"""Seeded inputs for the benchmark workloads, and the rules-engine oracle.

Everything here is a pure function of the seed and the sizes passed in: the
same seed gives identical rules, rows and tables.  Nothing imports Spark, so
the tests can check the generators without a session.

- :func:`gen_rules` / :func:`gen_rows` build the rules-engine inputs: a chain
  of rules that rewrite 8 shared integer and 4 shared string columns, so each
  rule reads what earlier rules wrote.  Conditions and values use only SQL
  that Spark and DuckDB parse and evaluate identically (non-negative integer
  arithmetic bounded below 10^4, ASCII strings, no NULLs).
- :func:`rules_oracle` evaluates the same chain in DuckDB and returns the
  order-independent digest the Spark output must match.
- :func:`write_tables` writes the ``customer``/``orders``/``documents``
  parquet tables the graph and pair recipes read.  They follow the shape of
  the repo's synthetic TPC-H-like test tables (same columns, key ranges,
  ``Customer#`` names, 25 nations, 5 segments, 10-99-word documents over the
  same 32-word vocabulary, a fifth of them near-duplicates of others); the
  seed draws every random column.  A small
  ``embeddings`` table is written too: building ``oracle_sql()`` reads it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INT_COLS = tuple(f"i{k}" for k in range(8))
STR_COLS = tuple(f"s{k}" for k in range(4))
DETAILS = "plugDetails"
TOKENS = tuple(a + b for a in "abcdefgh" for b in "pqrstu")  # 48 tokens
WORDS = (
    "a the row key hash join scan sort part data line fast slow big small "
    "table value batch spark query order merge group agg filter window "
    "stream column customer vector"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EMBEDDINGS, EMBEDDING_DIM = 64, 16


# ---------------------------------------------------------------- rules


def _int_value(shape: np.random.Generator, lit: np.random.Generator) -> str:
    a, b = shape.choice(INT_COLS, 2, replace=False)
    n = int(lit.integers(0, 1000))
    kind = int(shape.integers(0, 6))
    if kind == 0:
        return str(n)  # literal write
    return "`" + (
        f"({a} + {b}) % 1000",
        f"({a} * 7 + {n}) % 1000",
        f"abs({a} - {b})",
        f"greatest({a}, {b})",
        f"least({a}, {n})",
    )[kind - 1] + "`"


def _str_value(shape: np.random.Generator, lit: np.random.Generator) -> str:
    a, b = shape.choice(STR_COLS, 2, replace=False)
    i = shape.choice(INT_COLS)
    tok = str(lit.choice(TOKENS))
    kind = int(shape.integers(0, 6))
    if kind == 0:
        return tok  # literal write
    return "`" + (
        f"concat(substr({a}, 1, 1), substr({b}, 2, 1))",
        f"upper({a})",
        f"lower({a})",
        f"reverse({a})",
        f"cast({i} % 100 as string)",
    )[kind - 1] + "`"


def _condition(shape: np.random.Generator, lit: np.random.Generator) -> str:
    a, b = shape.choice(INT_COLS, 2, replace=False)
    s, t = shape.choice(STR_COLS, 2, replace=False)
    n = int(lit.integers(0, 1000))
    m = int(lit.integers(2, 10))
    r = int(lit.integers(0, m))
    tok = lit.choice(TOKENS)
    return (
        f"{a} > {n}",
        f"{a} % {m} = {r}",
        f"{a} < {b}",
        f"{s} = '{tok}'",
        f"{s} like '{tok[0]}%'",
        f"{a} between {n} and {n + 300}",
        f"({a} > {n} and {s} <> '{tok}')",
        f"({a} % {m} = {r} or {t} like '{tok[0]}%')",
    )[int(shape.integers(0, 8))]


def gen_rules(seed: int, n_rules: int, max_actions: int) -> list[dict]:
    """``n_rules`` rule dicts (the JSON-lines rule shape), each with 1 to
    ``max_actions`` actions on distinct shared columns.

    The chain's shape (which columns each rule reads and writes, with which
    expression) is the same for every seed, so every seed costs the engine
    the same planning work; the seed draws the literals."""
    shape = np.random.default_rng([0, 1])
    lit = np.random.default_rng([seed, 1])
    cols = INT_COLS + STR_COLS
    rules = []
    for k in range(n_rules):
        keys = shape.choice(cols, int(shape.integers(1, max_actions + 1)), replace=False)
        actions = [
            {
                "key": str(key),
                "value": (_int_value if key in INT_COLS else _str_value)(shape, lit),
            }
            for key in keys
        ]
        rules.append(
            {
                "name": f"r{k:03d}",
                "version": "v1",
                "condition": _condition(shape, lit),
                "actions": actions,
            }
        )
    return rules


def gen_rows(seed: int, n_rows: int) -> pa.Table:
    """The rules-engine input: ``id`` plus the shared columns, no NULLs."""
    rng = np.random.default_rng([seed, 2])
    data = {"id": pa.array(np.arange(n_rows, dtype=np.int64))}
    for c in INT_COLS:
        data[c] = pa.array(rng.integers(0, 1000, n_rows, dtype=np.int32))
    tokens = np.array(TOKENS)
    for c in STR_COLS:
        data[c] = pa.array(tokens[rng.integers(0, len(TOKENS), n_rows)])
    return pa.table(data)


def sql_value(value: str) -> str:
    """A rule action value as a SQL expression both engines accept."""
    if "`" in value:
        return value.replace("`", "")
    return value if value.isdigit() else f"'{value}'"


def digest_sql(names_sql: str, changed_sql: str, hex_to_bigint) -> str:
    """Order-independent digest aggregates of a rules output, written once
    for both engines: row count, changed-row count, XOR of the first 60 bits
    and sum of the next 60 bits of md5(``id|i0..i7|s0..s3|rule names``).
    ``hex_to_bigint`` renders the one engine-specific cast."""
    parts = ["cast(id as string)"]
    parts += [f"cast({c} as string)" for c in INT_COLS]
    parts += list(STR_COLS)
    parts.append(names_sql)
    md5 = "md5(concat_ws('|', " + ", ".join(parts) + "))"
    hi = hex_to_bigint(f"substr({md5}, 1, 15)")
    lo = hex_to_bigint(f"substr({md5}, 16, 15)")
    return (
        "count(*) AS total, "
        f"sum(CASE WHEN {changed_sql} THEN 1 ELSE 0 END) AS changed, "
        f"bit_xor({hi}) AS h1, "
        f"sum(cast({lo} AS DECIMAL(38, 0))) AS h2"
    )


def rules_oracle(rows: pa.Table, rules: list[dict]) -> tuple[int, int, int, int]:
    """DuckDB evaluation of the rule fold → ``(total, changed, h1, h2)``.

    Each rule is one projection over the previous one, with the engine's
    semantics: an action writes where the condition holds, and the rule's
    name is appended to the audit list where the condition holds and at
    least one action changes its column."""
    import duckdb

    cols = ("id",) + INT_COLS + STR_COLS
    sql = f"SELECT {', '.join(cols)}, CAST([] AS VARCHAR[]) AS {DETAILS} FROM src"
    for rule in rules:
        cond = rule["condition"]
        acts = {a["key"]: sql_value(a["value"]) for a in rule["actions"]}
        sel = [
            f"CASE WHEN {cond} THEN {acts[c]} ELSE {c} END AS {c}" if c in acts else c
            for c in cols
        ]
        changed = " OR ".join(f"{c} IS DISTINCT FROM ({v})" for c, v in acts.items())
        sel.append(
            f"CASE WHEN ({cond}) AND ({changed}) "
            f"THEN list_append({DETAILS}, '{rule['name']}') "
            f"ELSE {DETAILS} END AS {DETAILS}"
        )
        sql = f"SELECT {', '.join(sel)} FROM ({sql})"
    digest = digest_sql(
        # an empty list joins to NULL in DuckDB but to '' in Spark
        f"coalesce(array_to_string({DETAILS}, ','), '')",
        f"len({DETAILS}) > 0",
        lambda h: f"(('0x' || {h})::BIGINT)",
    )
    con = duckdb.connect()
    try:
        con.register("src", rows)
        got = con.execute(f"SELECT {digest} FROM ({sql})").fetchone()
    finally:
        con.close()
    return tuple(int(v) for v in got)


# ---------------------------------------------------------------- tables


def write_tables(
    seed: int, out_dir: str, customers: int, orders: int, documents: int
) -> None:
    """Write ``customer``, ``orders``, ``documents`` and ``embeddings``
    parquet tables into ``out_dir``."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(customers, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, customers, dtype=np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, customers)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": np.arange(orders, dtype=np.int64),
                "o_custkey": rng.integers(0, customers, orders, dtype=np.int64),
                "o_totalprice": np.round(rng.uniform(900, 500000, orders), 2),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
        for _ in range(documents - documents // 5)
    ]
    # the last fifth are near-duplicates (one word replaced) of earlier
    # documents, so the Jaccard pair search has pairs to find
    while len(texts) < documents:
        doc = texts[int(rng.integers(0, len(texts)))].split()
        doc[int(rng.integers(0, len(doc)))] = str(words[rng.integers(0, len(WORDS))])
        texts.append(" ".join(doc))
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(documents, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[rng.choice(5, documents, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(documents)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    emb = rng.standard_normal((EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
                "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 4, EMBEDDINGS, dtype=np.int32),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
