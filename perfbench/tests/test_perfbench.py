"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

They start Spark (``local[nproc]``) and take a few minutes: each tiny run
sets its workload up three times and runs a cold and two warm jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import run  # noqa: E402

TINY = {
    "rules_deep": {"rules": 12, "max_actions": 2, "rows": 300},
    "graph_pair": {"customers": 200, "orders": 400, "documents": 60},
}


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generated_rules_parse_in_spark_and_duckdb(tmp_path):
    from pyspark.sql import functions as F

    from sparkplug_spark import SparkPlug, rule_from_dict

    spark = run.start_session(str(tmp_path))
    con = duckdb.connect()
    try:
        for seed in (1, 2, 3):
            rules = inputs.gen_rules(seed, 60, 2)
            rows = inputs.gen_rows(seed, 50)
            df = spark.createDataFrame(rows)
            plug = SparkPlug.builder(spark)
            assert plug.validate(df.schema, [rule_from_dict(r) for r in rules]) == []
            con.register("src", rows)
            for r in rules:
                exprs = [r["condition"]] + [inputs.sql_value(a["value"]) for a in r["actions"]]
                df.select(*[F.expr(e) for e in exprs]).schema  # analysis raises on bad SQL
                con.execute(f"SELECT {', '.join(exprs)} FROM src").fetchall()
    finally:
        con.close()
        run.stop_jvm(spark)


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    assert inputs.gen_rules(1, 20, 2) == inputs.gen_rules(1, 20, 2)
    assert inputs.gen_rules(1, 20, 2) != inputs.gen_rules(2, 20, 2)
    assert inputs.gen_rows(1, 100).equals(inputs.gen_rows(1, 100))
    assert not inputs.gen_rows(1, 100).equals(inputs.gen_rows(2, 100))
    tables = {}
    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        inputs.write_tables(seed, str(tmp_path / sub), customers=50, orders=200, documents=20)
        tables[sub] = {
            t: duckdb.sql(f"SELECT * FROM '{tmp_path / sub / t}.parquet'").fetchall()
            for t in ("customer", "orders", "documents")
        }
    assert tables["a"] == tables["b"]
    for t in ("customer", "orders", "documents"):
        assert tables["a"][t] != tables["c"][t]


def test_rules_oracle_disagrees_with_another_rule_set():
    rows = inputs.gen_rows(1, 200)
    assert inputs.rules_oracle(rows, inputs.gen_rules(1, 10, 2)) != inputs.rules_oracle(
        rows, inputs.gen_rules(2, 10, 2)
    )


def test_metric_names_and_units_match_benchmark_json():
    spec = bench_spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS) == set(run.SIZES)
    assert set(run.MIN_WARM) == set(run.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_tiny_run_passes_its_check(workload, trace):
    result = run.run(workload, seed=7, seconds=0, trace=trace, sizes=TINY[workload])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 1 + run.MIN_WARM[workload]
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    cmd = bench_spec()["command"] + ["--workload", "rules_deep", "--seed", "1"]
    p = subprocess.run(
        cmd + ["--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
