"""The rule compiler's SQL text: literal rendering, fragment isolation,
batched validation and the py4j round-trip budget of ``plug()`` and
``validate()``.

Each rule's written columns are SQL ``CASE WHEN`` text under one ``F.expr``
(``engine._rule_columns``); these tests pin that the text writes exactly
what the ``Column`` API would, and that it stays cheap to build.
"""

import gc
import re
import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkplug_spark import PlugAction, PlugRule, SparkPlug
from sparkplug_spark import validation
from sparkplug_spark.validation import (
    coerce_action_value,
    validate_rule_sql,
    validate_rules,
)

# (target type, literal action values) — every type coerce_action_value
# accepts, with the values whose SQL spelling is easiest to get wrong
LITERALS = [
    (T.ByteType(), ["-128", "127"]),
    (T.ShortType(), ["-32768", "32767"]),
    (T.IntegerType(), ["-2147483648", "2147483647"]),
    (T.LongType(), ["-9223372036854775808", "9223372036854775807"]),
    (T.FloatType(), ["nan", "inf", "-inf", "-0.0", "1e-45", "0.1"]),
    (T.DoubleType(), ["nan", "inf", "-inf", "-0.0", "1e-45", "0.1"]),
    (
        T.StringType(),
        ["it's", "back\\slash", "new\nline", "a -- b", "c /* d", "naïve ☃ 日本", ""],
    ),
    (T.BooleanType(), ["true", "FALSE"]),
    (
        T.DecimalType(38, 18),
        ["1.000000000000000000", "-1.0000000000000000005", "1E+5", "0.1234567890123456789"],
    ),
    (T.DateType(), ["2024-02-29", "1000-01-01"]),
    (
        T.TimestampType(),
        ["2020-03-08T02:30:01.123456", "2021-06-01 12:00:00", "2020-01-01T00:00:00+02:00"],
    ),
]


@pytest.fixture
def other_time_zones(spark, monkeypatch):
    """Process TZ and session TZ set to two zones that differ from each
    other (and from UTC)."""
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    yield
    spark.conf.set("spark.sql.session.timeZone", saved)
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("escaped", ["false", "true"])
@pytest.mark.parametrize("ansi", ["false", "true"])
def test_literal_writes_match_lit_cast(spark, other_time_zones, ansi, escaped):
    cases = [(dt, v) for dt, values in LITERALS for v in values]
    schema = T.StructType(
        [T.StructField(f"c{i}", dt) for i, (dt, _) in enumerate(cases)]
    )
    rule = PlugRule(
        "lit", "v1", "true",
        tuple(PlugAction(f"c{i}", v) for i, (_, v) in enumerate(cases)),
    )
    confs = {"spark.sql.ansi.enabled": ansi, "spark.sql.parser.escapedStringLiterals": escaped}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = spark.createDataFrame([tuple(None for _ in cases)], schema)
        out = SparkPlug.builder(spark).create().plug(df, [rule])
        want = df.select(
            *[
                F.lit(coerce_action_value(v, dt)).cast(dt).alias(f"c{i}")
                for i, (dt, v) in enumerate(cases)
            ]
        )
        types = [dt for dt, _ in cases]
        assert [f.dataType for f in out.schema] == [f.dataType for f in want.schema] == types
        got_row, want_row = out.collect()[0], want.collect()[0]
        # the timestamps as text in the session time zone: the same instants
        ts = [
            F.col(f"c{i}").cast("string")
            for i, (dt, _) in enumerate(cases)
            if isinstance(dt, T.TimestampType)
        ]
        got_ts, want_ts = out.select(*ts).first(), want.select(*ts).first()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    for i, (dt, v) in enumerate(cases):
        # repr tells nan, -0.0 and Decimal scale apart
        assert repr(got_row[i]) == repr(want_row[i]), (dt, v)
    assert got_ts == want_ts


@pytest.mark.parametrize(
    "value", ["1850-01-01T00:00:00", "1000-01-01T00:00:00"]
)
def test_pre_1900_timestamp_writes_match_create_dataframe(
    spark, other_time_zones, value
):
    """Before the zones' last calendar switch, a timestamp literal stores
    what ``createDataFrame`` stores for the same Python ``datetime``
    (``F.lit``'s ``java.sql.Timestamp`` would apply the hybrid Julian
    calendar and old offsets instead), and reads back as written."""
    py = coerce_action_value(value, T.TimestampType())
    rule = PlugRule("old", "v1", "true", (PlugAction("t", value),))
    out = SparkPlug.builder(spark).create().plug(
        spark.createDataFrame([(None,)], "t timestamp"), [rule]
    )
    want = spark.createDataFrame([(py,)], "t timestamp")

    def micros(df):
        return df.select(F.unix_micros("t")).first()[0]

    assert micros(out) == micros(want)
    assert out.first()["t"] == want.first()["t"] == py


BROKEN = {
    "unbalanced condition": PlugRule(
        "unbalanced", "v1", "price = 1) OR (price = 2", (PlugAction("price", "5"),)
    ),
    "unterminated comment in value": PlugRule(
        "comment", "v1", "true", (PlugAction("title", "`concat(title, 'x') /* x`"),)
    ),
    "unbalanced value": PlugRule(
        "value", "v1", "true", (PlugAction("price", "`1) + (2`"),)
    ),
}


def _products(spark):
    return spark.createDataFrame(
        [("iPhone", 300), ("Galaxy", 200)], "title string, price int"
    )


@pytest.mark.parametrize("case", sorted(BROKEN))
def test_fragment_that_does_not_parse_alone_raises(spark, case):
    """A fragment is parsed alone before it is embedded, so text that only
    parses inside the generated CASE (``a = 1) OR (b = 2``) cannot change
    the meaning around it."""
    df = _products(spark)
    rule = BROKEN[case]
    with pytest.raises(Exception):
        SparkPlug.builder(spark).create().plug(df, [rule])
    errors = SparkPlug.builder(spark).create().validate(df.schema, [rule])
    assert [e.name for e in errors] == [rule.name]
    assert errors[0].error.startswith("[SQL Error]")


def test_condition_with_trailing_line_comment_applies(spark):
    df = _products(spark)
    rule = PlugRule(
        "note", "v1", "price > 250 -- only the expensive one",
        (PlugAction("title", "`upper(title) -- shout`"),),
    )
    out = SparkPlug.builder(spark).enable_plug_details().create().plug(df, [rule])
    rows = {r["price"]: r for r in out.collect()}
    assert rows[300]["title"] == "IPHONE" and rows[200]["title"] == "Galaxy"
    assert [d["name"] for d in rows[300]["plugDetails"]] == ["note"]
    assert rows[200]["plugDetails"] == []
    assert SparkPlug.builder(spark).create().validate(df.schema, [rule]) == []


def _chain(n):
    """``n`` rules over ``a``/``b``/``s``/``t``: literal and expression
    writes, one or two actions each, every rule reading earlier writes."""
    values = {
        "a": ["7", "`(a + b) % 100`"], "b": ["`abs(a - b)`", "3"],
        "s": ["x", "`upper(t)`"], "t": ["`concat(s, 'y')`", "z"],
    }
    keys = ["a", "b", "s", "t"]
    rules = []
    for i in range(n):
        k1, k2 = keys[i % 4], keys[(i + 1) % 4]
        actions = [PlugAction(k1, values[k1][i % 2])]
        if i % 3 == 0:
            actions.append(PlugAction(k2, values[k2][(i + 1) % 2]))
        cond = (f"a % {i % 5 + 2} = 1", f"s like '{'xz'[i % 2]}%'", "b < a")[i % 3]
        rules.append(PlugRule(f"r{i}", "v1", cond, tuple(actions)))
    return rules


# py4j round trips per rule, about 1.5x what the SQL-text compiler makes on
# this 20-rule chain (plug 566, validate 171 in all); the Column builder it
# replaced made 5,071 and 3,263 (~250 and ~160 per rule)
PLUG_CALLS_PER_RULE = 42
VALIDATE_CALLS_PER_RULE = 13


def test_round_trip_budget(spark, py4j_calls, monkeypatch):
    rules = _chain(20)
    df = spark.createDataFrame(
        [(i, i % 7, "xs", "zt") for i in range(50)], "a int, b int, s string, t string"
    )
    created = []
    create = spark.createDataFrame

    def counting_create(*args, **kwargs):
        created.append(args)
        return create(*args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", counting_create)
    obs = Observation("budget")
    sp = SparkPlug.builder(spark).enable_plug_details().enable_metrics(obs).create()
    gc.collect()

    start = py4j_calls()
    assert sp.validate(df.schema, rules) == []
    validate_calls = py4j_calls() - start

    start = py4j_calls()
    out = sp.plug(df, rules)
    plug_calls = py4j_calls() - start

    assert validate_calls < VALIDATE_CALLS_PER_RULE * len(rules), validate_calls
    assert plug_calls < PLUG_CALLS_PER_RULE * len(rules), plug_calls
    assert len(created) == 1  # one empty relation per validate_rules call
    assert out.count() == 50 and obs.get["total"] == 50


def test_batched_validation_matches_per_rule(spark, monkeypatch):
    df = _products(spark)
    ok = [
        PlugRule("ok1", "v1", "price > 100", (PlugAction("price", "1"),)),
        PlugRule("ok2", "v1", "true", (PlugAction("title", "`upper(title)`"),)),
    ]
    bad = [
        PlugRule("bad_fn", "v1", "true", (PlugAction("title", "`conc(title)`"),)),
        PlugRule("bad_col", "v1", "no_such_col = 1", (PlugAction("price", "2"),)),
        BROKEN["unbalanced condition"],
    ]
    mixed = [ok[0], bad[0], ok[1], bad[1], bad[2]]
    batches = []
    dry_run = validation._dry_run

    def counting_dry_run(empty, fields, rules):
        batches.append([r.name for r in rules])
        return dry_run(empty, fields, rules)

    monkeypatch.setattr(validation, "_dry_run", counting_dry_run)

    assert validate_rules(df.schema, ok, spark=spark) == []
    assert batches == [["ok1", "ok2"]]  # one analysis for the whole set

    # messages name plan expression ids, which differ between analyses
    def normalized(errors):
        return [(e.name, re.sub(r"#\d+L?", "#", e.error)) for e in errors]

    per_rule = [e for r in mixed for e in validate_rule_sql(spark, df.schema, r)]
    batches.clear()
    got = validate_rules(df.schema, mixed, spark=spark)
    assert batches == [[r.name for r in mixed]]
    assert normalized(got) == normalized(per_rule)
    assert [e.name for e in got] == ["bad_fn", "bad_col", "unbalanced"]
    assert all(e.error.startswith("[SQL Error]") for e in got)
