"""The PageRank and pair families' ``queries()`` entries against their
DuckDB ``oracle_sql()`` twins, compared the way
``tools/check_correctness.py`` compares them: canon-safe output types on
both engines, the same column set, and equal ``table_digest`` value
hashes."""

import importlib.util
import os

import duckdb
import pytest

import __spark_entry__ as entry

_TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)
_spec = importlib.util.spec_from_file_location(
    "check_correctness", os.path.join(_TOOLS, "check_correctness.py")
)
cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cc)

RANK_ENTRIES = (
    "pagerank_exact",
    "pagerank_seeded",
    "pagerank_weighted",
    "pagerank_incremental",
    "streaming_pagerank_replay",
    "textrank_tokens",
)

#: the pair family: every entry built on ``operators/_pairs.py``
PAIR_ENTRIES = (
    "dedup_jaccard_pairs",
    "dedup_jaccard_cjk",
    "containment_pairs",
    "tfidf_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "basket_pairs",
    "blocked_link",
    "dedup_jaccard_prefix",
    "dedup_threshold_curve",
    "cdc_dup_pairs",
    "fuzzy_name_pairs",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", RANK_ENTRIES + PAIR_ENTRIES)
def test_rank_entry_matches_oracle_twin(spark, duck, sf_dir, name):
    sdf = entry.queries()[name](spark, sf_dir)
    sql = entry.oracle_sql()[name]
    assert cc.risky_spark_types(sdf) == []
    assert cc.risky_duck_types(duck, sql) == []
    s_rows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(sql)
    d_cols = [d[0] for d in cur.description]
    d_rows = [
        tuple(r[c] for c in d_cols)
        for r in cur.fetch_arrow_table().to_pylist()
    ]
    assert s_rows, name
    assert sorted(sdf.columns) == sorted(d_cols)
    assert cc.table_digest(sdf.columns, s_rows) == cc.table_digest(d_cols, d_rows)
