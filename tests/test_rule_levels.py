"""Rules apply in levels: maximal runs of consecutive rules that read
nothing an earlier rule of the run writes, each run one ``withColumns``
(``SparkPlug.plug``).

Each hazard test builds two rules that, fused into one projection, would
give a different answer; ``plug`` must equal the fold of public
``apply_rule`` calls, one rule at a time.
"""

import re

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from perfbench import inputs
from sparkplug_spark import PlugAction, PlugRule, SparkPlug, apply_rule, rule_from_dict
from sparkplug_spark.models import DEFAULT_PLUG_DETAILS_COLUMN, PLUG_DETAILS_SCHEMA_DDL

DETAILS = DEFAULT_PLUG_DETAILS_COLUMN


def rule(name, condition, *actions):
    return PlugRule(name, "v1", condition, tuple(PlugAction(k, v) for k, v in actions))


def fold(df, rules, keep_old=False):
    """The per-rule fold: one public ``apply_rule`` per rule, details on."""
    out = df.withColumn(DETAILS, F.array().cast(PLUG_DETAILS_SCHEMA_DDL))
    for r in rules:
        out = apply_rule(out, r, details_column=DETAILS, keep_old_field=keep_old)
    return out


def plug(spark, df, rules, keep_old=False, observation=None):
    sp = SparkPlug.builder(spark).enable_plug_details()
    if keep_old:
        sp = sp.keep_old_field()
    if observation is not None:
        sp = sp.enable_metrics(observation)
    return sp.create().plug(df, rules)


def rows(df):
    return sorted(df.collect(), key=repr)


def assert_same_as_fold(spark, df, rules, keep_old=False):
    got = plug(spark, df, rules, keep_old=keep_old)
    want = fold(df, rules, keep_old=keep_old)
    assert got.schema == want.schema
    assert rows(got) == rows(want)
    return rows(got)


def project_count(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return len(re.findall(r"(?m)^[\s:|+\-]*Project \[", plan))


def test_lambda_body_reads_earlier_write(spark):
    df = spark.createDataFrame([(1, 1, [1, 2])], "id int, b int, arr array<int>")
    rules = [
        rule("set_b", "true", ("b", "10")),
        rule("shift", "true", ("arr", "`transform(arr, x -> x + b)`")),
    ]
    (got,) = assert_same_as_fold(spark, df, rules)
    assert got["arr"] == [11, 12]


def test_star_reads_earlier_write(spark):
    df = spark.createDataFrame([(1, 1, 0), (2, 3, 0)], "id int, a int, h int")
    rules = [
        rule("set_a", "id = 1", ("a", "5")),
        rule("hash_all", "true", ("h", "`hash(*)`")),
    ]
    assert_same_as_fold(spark, df, rules)


def test_subquery_condition_reads_earlier_write(spark):
    df = spark.createDataFrame([(1, 1, "-"), (2, 3, "-")], "id int, v int, tag string")
    rules = [
        rule("set_v", "id = 1", ("v", "2")),
        # v is read only inside the subquery
        rule("tag", "1 IN (SELECT r.id FROM range(3) r WHERE r.id = v - 1)", ("tag", "hit")),
    ]
    got = assert_same_as_fold(spark, df, rules)
    assert [r["tag"] for r in got] == ["hit", "-"]


def test_condition_on_details_reads_earlier_entries(spark):
    df = spark.createDataFrame([(1, 1, 0), (2, 5, 0)], "id int, a int, b int")
    rules = [
        rule("set_a", "a = 1", ("a", "9")),
        rule("after", "size(plugDetails) > 0", ("b", "7")),
    ]
    got = assert_same_as_fold(spark, df, rules)
    assert [r["b"] for r in got] == [7, 0]


def test_later_rule_reads_old_value_column(spark):
    df = spark.createDataFrame([(1, 1, 0), (2, 5, 0)], "id int, a int, b int")
    rules = [
        rule("r1", "true", ("a", "9")),
        rule("r2", "a_r1_old = 1", ("b", "7")),
    ]
    got = assert_same_as_fold(spark, df, rules, keep_old=True)
    assert [(r["a_r1_old"], r["b"]) for r in got] == [(1, 7), (5, 0)]


def test_case_mismatched_name_reads_earlier_write(spark):
    df = spark.createDataFrame([(1, 1, "-")], "id int, i7 int, s0 string")
    rules = [
        rule("set_i7", "true", ("i7", "50")),
        rule("big", "I7 > 10", ("s0", "hit")),
    ]
    (got,) = assert_same_as_fold(spark, df, rules)
    assert got["s0"] == "hit"


def test_checkpoint_cadence_ends_a_level(spark, tmp_path):
    """Four independent rules with ``rules_per_stage=2``: the repartition
    lands after rule 2, so rule 3's ``spark_partition_id()`` sees the two
    new partitions; in one level it would see the single input one."""
    df = spark.range(8, numPartitions=1).selectExpr(
        "cast(id as int) id", "0 a", "0 b", "0 p", "0 c"
    )
    rules = [
        rule("r1", "true", ("a", "1")),
        rule("r2", "true", ("b", "2")),
        rule("r3", "true", ("p", "`spark_partition_id()`")),
        rule("r4", "true", ("c", "4")),
    ]
    got = (
        SparkPlug.builder(spark)
        .enable_plug_details()
        .enable_checkpointing(str(tmp_path / "ckpt"), rules_per_stage=2, num_partitions=2)
        .create()
        .plug(df, rules)
    )
    want = fold(df, rules[:2]).repartition(2)
    for r in rules[2:]:
        want = apply_rule(want, r, details_column=DETAILS)
    want = want.repartition(2)
    assert rows(got) == rows(want)
    assert {r["p"] for r in got.collect()} == {0, 1}


def test_independent_rules_optimize_to_one_project(spark):
    cols = [f"c{k}" for k in range(20)]
    df = spark.createDataFrame(
        [tuple(range(k, k + 20)) for k in range(4)], ", ".join(f"{c} int" for c in cols)
    ).localCheckpoint()
    rules = [rule(f"r{k}", f"c{k} % 2 = 0", (f"c{k}", str(-k))) for k in range(20)]
    out = plug(spark, df, rules)
    assert project_count(out) == 1
    assert project_count(fold(df, rules)) == 20
    assert rows(out) == rows(fold(df, rules))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_benchmark_chain_has_at_most_13_projects(spark, seed):
    raw = inputs.gen_rules(seed, 20, 2)
    rules = [rule_from_dict(r) for r in raw]
    df = spark.createDataFrame(inputs.gen_rows(seed, 200)).localCheckpoint()
    obs = Observation(f"levels{seed}")
    out = plug(spark, df, rules, observation=obs)
    assert project_count(out) <= 13
    got, want = rows(out), rows(fold(df, rules))
    assert got == want
    assert obs.get == {"changed": sum(len(r[DETAILS]) > 0 for r in want), "total": 200}


def test_custom_entry_builder_in_one_level(spark):
    """Two independent rules in one level with a ``Column`` entry builder:
    both entries, in rule order, as the per-rule fold appends them."""

    def entry(r):
        return F.struct(F.lit(r.name).alias("id"), F.lit(len(r.actions)).alias("n"))

    ddl = "array<struct<id:string,n:int>>"
    df = spark.createDataFrame([(1, 0, 0), (2, 0, 0)], "id int, a int, b int")
    rules = [rule("second", "id = 1", ("a", "1")), rule("first", "true", ("b", "2"))]
    got = (
        SparkPlug.builder(spark)
        .enable_plug_details(column="audit", entry_builder=entry, schema_ddl=ddl)
        .create()
        .plug(df, rules)
    )
    want = df.withColumn("audit", F.array().cast(ddl))
    for r in rules:
        want = apply_rule(want, r, details_column="audit", details_entry_builder=entry)
    assert got.schema == want.schema
    assert rows(got) == rows(want)
    assert [[e["id"] for e in r["audit"]] for r in rows(got)] == [["second", "first"], ["first"]]
    assert project_count(got) <= 1


def _error(action):
    with pytest.raises(Exception) as info:
        action()
    e = info.value
    return type(e), e.getCondition(), e.getMessageParameters()


def test_analysis_error_before_later_parse_error(spark):
    """Rule 1 fails analysis and rule 2 fails to parse: the per-rule fold
    raises rule 1's error, and so does the level fold."""
    df = spark.createDataFrame([(1, 1, 0)], "id int, a int, b int")
    rules = [
        rule("bad_col", "true", ("a", "`no_such_col + 1`")),
        rule("bad_sql", "b = 1) OR (b = 2", ("b", "3")),
    ]
    got = _error(lambda: plug(spark, df, rules))
    assert got == _error(lambda: fold(df, rules))
    assert got[2]["objectName"] == "`no_such_col`"


def test_first_failing_rule_of_a_level_raises(spark):
    """Two independent failing rules in one level: the first one raises,
    although the second one writes the earlier column of the projection."""
    df = spark.createDataFrame([(1, 1, 0, 0)], "id int, a int, b int, c int")
    rules = [
        rule("ok", "true", ("a", "2")),
        rule("first", "true", ("c", "`nope_one`")),
        rule("second", "true", ("b", "`nope_two`")),
    ]
    got = _error(lambda: plug(spark, df, rules))
    assert got == _error(lambda: fold(df, rules))
    assert got[2]["objectName"] == "`nope_one`"


def test_classic_session_only(spark, monkeypatch):
    from pyspark.sql import utils

    df = spark.createDataFrame([(1,)], "a int")
    rules = [rule("r", "true", ("a", "2"))]
    monkeypatch.setattr(utils, "is_remote", lambda: True)
    sp = SparkPlug.builder(spark).create()
    with pytest.raises(RuntimeError, match="classic"):
        sp.plug(df, rules)
    with pytest.raises(RuntimeError, match="classic"):
        sp.validate(df.schema, rules)
