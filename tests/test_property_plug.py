"""Property-based check: SparkPlug's fused plug vs an independent pandas
fold implementing the documented semantics (sequential visibility,
null-safe change gate for details, literal coercion).  The reference has
no property tests (SURVEY 5); this guards the rebuild's core semantics
against a second implementation."""

import math

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sparkplug_spark import PlugAction, PlugRule, SparkPlug

COLS = ["cat", "qty", "price"]
CATS = ["a", "b", "c", None]

rows_st = st.lists(
    st.tuples(
        st.sampled_from(CATS),
        st.one_of(st.none(), st.integers(min_value=-5, max_value=20)),
        st.one_of(st.none(), st.floats(min_value=-10, max_value=100,
                                       allow_nan=False, width=16)),
    ),
    min_size=1,
    max_size=25,
)


def cond_st():
    return st.one_of(
        st.tuples(st.just("cat"), st.just("="), st.sampled_from(["a", "b", "c"])),
        st.tuples(st.just("qty"), st.sampled_from(["<", ">", "="]),
                  st.integers(min_value=-2, max_value=15)),
        st.tuples(st.just("price"), st.sampled_from(["<", ">"]),
                  st.integers(min_value=0, max_value=80)),
    )


def action_st():
    return st.one_of(
        st.tuples(st.just("cat"), st.sampled_from(["x", "y"])),
        st.tuples(st.just("qty"), st.integers(min_value=0, max_value=9).map(str)),
        st.tuples(st.just("price"), st.integers(min_value=0, max_value=50).map(lambda v: f"{v}.5")),
    )


rules_st = st.lists(
    st.tuples(cond_st(), st.lists(action_st(), min_size=1, max_size=2)),
    min_size=1,
    max_size=4,
)


def pandas_plug(pdf: pd.DataFrame, rules):
    """Independent reference: sequential fold of conditional overrides."""
    out = pdf.copy()
    for rule in rules:
        (col, op, lit), actions = rule
        series = out[col]
        if op == "=":
            mask = series == lit
        elif op == "<":
            mask = series < lit
        else:
            mask = series > lit
        mask = mask.fillna(False) if mask.dtype == object else (mask & series.notna())
        for key, value in actions:
            coerced = int(value) if key == "qty" else (float(value) if key == "price" else value)
            out.loc[mask, key] = coerced
    return out


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_st, raw_rules=rules_st)
def test_plug_matches_pandas_reference(spark, rows, raw_rules):
    pdf = pd.DataFrame(rows, columns=COLS).astype(
        {"qty": "Int64", "price": "float64"}
    )
    df = spark.createDataFrame(
        [(c, None if q is pd.NA or q is None else int(q),
          None if p is None or (isinstance(p, float) and math.isnan(p)) else float(p))
         for c, q, p in rows],
        "cat string, qty int, price double",
    )
    rules = [
        PlugRule(
            f"r{i}", "v1",
            f"{col} {op} {repr(lit) if isinstance(lit, str) else lit}",
            tuple(PlugAction(k, v) for k, v in actions),
        )
        for i, ((col, op, lit), actions) in enumerate(raw_rules)
    ]
    got = (
        SparkPlug.builder(spark).create().plug(df, rules)
        .toPandas()
        .sort_values(COLS, na_position="last")
        .reset_index(drop=True)
    )
    want = (
        pandas_plug(pdf, raw_rules)
        .astype({"qty": "float64"})
        .sort_values(COLS, na_position="last")
        .reset_index(drop=True)
    )
    got["qty"] = got["qty"].astype("float64")
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# -- levels: the fused fold against the per-rule apply_rule fold ----------

INTS = [f"c{k}" for k in range(5)]

level_rule_st = st.tuples(
    # condition: kind, column, constant
    st.sampled_from(["gt", "even", "details", "old", "true"]),
    st.sampled_from(INTS),
    st.integers(min_value=-1, max_value=6),
    # 1-2 actions: column, value kind, column read by the value, constant
    st.lists(
        st.tuples(
            st.sampled_from(INTS),
            st.sampled_from(["lit", "add", "lambda"]),
            st.sampled_from(INTS),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=2,
        unique_by=lambda a: a[0],
    ),
)

# value kinds: a literal, an expression, a lambda whose body reads a column
VALUES = {
    "lit": lambda src, n: str(n),
    "add": lambda src, n: f"`{src} + {n}`",
    "lambda": lambda src, n: f"`transform(array({n}), x -> x + {src})[0]`",
}


def _level_rules(raw):
    """PlugRules from drawn specs; five shared columns, so adjacent rules
    are often independent (one level) and often not."""
    rules = []
    for i, (kind, col, k, actions) in enumerate(raw):
        if kind == "old" and rules:
            prev = rules[-1]
            cond = f"{prev.actions[0].key}_{prev.name}_old > {k}"
        else:
            cond = {
                "gt": f"{col} > {k}",
                "even": f"{col} % 2 = 0",
                "details": f"size(plugDetails) > {k % 2}",
            }.get(kind, "true")
        rules.append(
            PlugRule(
                f"r{i}", "v1", cond,
                tuple(PlugAction(key, VALUES[v](src, n)) for key, v, src, n in actions),
            )
        )
    return rules


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(*[st.one_of(st.none(), st.integers(-3, 8)) for _ in INTS]),
        min_size=1,
        max_size=6,
    ),
    raw_rules=st.lists(level_rule_st, min_size=1, max_size=6),
)
def test_level_fold_matches_per_rule_fold(spark, rows, raw_rules):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from sparkplug_spark import apply_rule
    from sparkplug_spark.models import DEFAULT_PLUG_DETAILS_COLUMN as DETAILS
    from sparkplug_spark.models import PLUG_DETAILS_SCHEMA_DDL

    rules = _level_rules(raw_rules)
    df = spark.createDataFrame(rows, ", ".join(f"{c} int" for c in INTS))
    obs = Observation("levels")
    got = (
        SparkPlug.builder(spark).enable_plug_details().enable_metrics(obs)
        .keep_old_field().create().plug(df, rules)
    )
    want = df.withColumn(DETAILS, F.array().cast(PLUG_DETAILS_SCHEMA_DDL))
    for r in rules:
        want = apply_rule(want, r, details_column=DETAILS, keep_old_field=True)
    assert got.schema == want.schema
    want_rows = sorted(want.collect(), key=repr)
    assert sorted(got.collect(), key=repr) == want_rows
    assert obs.get == {
        "changed": sum(len(r[DETAILS]) > 0 for r in want_rows),
        "total": len(rows),
    }
