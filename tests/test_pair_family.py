"""The pair family's shared contract: every operator built on the hot-key
cap and the same-key candidate join (``operators/_pairs.py``) leaves
exactly its result's block persisted and stays within a Spark job budget
on one small fixed corpus; the capped Jaccard and containment tiers never
score a pair above its true value."""

import re

import pytest
from pyspark.sql import functions as F

from sparkplug_spark.operators import (
    basket_pairs,
    blocked_link,
    cdc_near_dup_pairs,
    containment_pairs,
    dedup_threshold_curve,
    dhash_pairs,
    edit_distance_pairs,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_frozen,
    jaccard_ngram_pairs,
    jaccard_prefix_pairs,
    minhash_lsh_join,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_pairs,
    tfidf_cosine_pairs,
)

def _docs(spark):
    """40 documents in 8 families of near-duplicates (12 family words and
    one word of their own); every one opens with the same boilerplate,
    whose shingles are in all 40 documents, so a cap of 20 drops them."""
    rows = [
        (
            i,
            "lorem ipsum dolor sit amet "
            + " ".join(f"t{i % 8}x{k}" for k in range(12))
            + f" w{i}",
        )
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _names(spark):
    rows = [(i, f"name{i % 13}x{i // 13}", i % 3, "S") for i in range(40)]
    return spark.createDataFrame(rows, "id long, name string, nat int, seg string")


def _baskets(spark):
    rows = [(b, (b * 7 + k) % 11) for b in range(20) for k in range(b % 5 + 1)]
    rows += [(99, k) for k in range(11)]  # one basket above the cap
    return spark.createDataFrame(rows, "b long, item long")


def _vectors(spark):
    rows = [
        (i, [float((i % 5) + 1), float((i * 3) % 7), float(i % 2), 1.0])
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _dhashes(spark):
    rows = [
        (i, (i % 6) * 0x1111_0000_0000, (i % 6) << (i % 3))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, dhash_hi long, dhash_lo long")


def _lsh_join(spark):
    sigs = minhash_signatures(_docs(spark))
    return minhash_lsh_join(
        sigs.filter(F.col("id") % 5 == 0),
        sigs.filter(F.col("id") % 5 != 0),
        max_key_freq=8,
    )


#: (operator, call, blocks its result keeps persisted, job budget).  The
#: budget is the most jobs one call plus a ``count()`` ran in 8 reps
#: before the operators shared the cap and the join; AQE re-plans
#: broadcasts, so counts vary a little between runs of the same tree.
CASES = [
    ("jaccard_ngram_pairs",
     lambda s: jaccard_ngram_pairs(_docs(s), threshold=0.5, max_key_freq=20), 1, 25),
    ("containment_pairs",
     lambda s: containment_pairs(_docs(s), threshold=0.5, max_key_freq=20), 1, 27),
    ("tfidf_cosine_pairs",
     lambda s: tfidf_cosine_pairs(_docs(s), threshold=0.3, max_key_freq=30), 1, 22),
    ("minhash_lsh_pairs",
     lambda s: minhash_lsh_pairs(_docs(s), threshold=0.3, max_key_freq=8), 1, 17),
    ("minhash_lsh_join", _lsh_join, 0, 12),
    ("simhash_pairs",
     lambda s: simhash_pairs(_docs(s), max_hamming=3, max_key_freq=20), 1, 13),
    ("cdc_near_dup_pairs",
     lambda s: cdc_near_dup_pairs(_docs(s), window=2, divisor=2, max_chunk_df=20),
     1, 14),
    ("blocked_link",
     lambda s: blocked_link(_names(s), "id", "name", ["nat", "seg"],
                            max_block_size=13), 1, 12),
    ("basket_pairs",
     lambda s: basket_pairs(_baskets(s), "b", "item", min_count=1,
                            max_basket_size=10), 1, 24),
    ("jaccard_prefix_pairs",
     lambda s: jaccard_prefix_pairs(_docs(s), threshold=0.5), 1, 19),
    ("dedup_threshold_curve", lambda s: dedup_threshold_curve(_docs(s)), 1, 30),
    ("edit_distance_pairs",
     lambda s: edit_distance_pairs(_names(s), text_col="name", max_distance=1),
     1, 15),
    ("embedding_near_dup_pairs",
     lambda s: embedding_near_dup_pairs(_vectors(s), threshold=0.9), 1, 11),
    ("dhash_pairs", lambda s: dhash_pairs(_dhashes(s)), 0, 5),
]


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _free(spark, ids):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)


def run_counted(spark, call, group):
    """Run ``call`` and a ``count()`` of its result under job group
    ``group``; returns (rows, jobs run, RDD ids left persisted)."""
    sc = spark.sparkContext
    before = _persisted(spark)
    sc.setJobGroup(group, group)
    try:
        rows = call(spark).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return rows, jobs, _persisted(spark) - before


@pytest.mark.parametrize(
    "name, call, blocks, budget", CASES, ids=[c[0] for c in CASES]
)
def test_pair_operator_contract(spark, name, call, blocks, budget):
    rows, jobs, left = run_counted(spark, call, f"pair-contract-{name}")
    _free(spark, left)
    assert rows > 0, name
    assert len(left) == blocks, f"{name} left {len(left)} blocks persisted"
    assert jobs <= budget, f"{name} ran {jobs} jobs"


def _capped_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "lorem ipsum dolor sit amet alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "lorem ipsum dolor sit amet one two"),
            (4, "lorem ipsum dolor sit amet three four"),
        ],
        "doc_id long, text string",
    )


def test_capped_jaccard_never_exceeds_true_score(spark):
    """Docs 1 and 2 share 2 shingles of 7 distinct (J = 2/7): the stop
    shingles docs 1, 3 and 4 share still count in doc 1's size."""
    df = _capped_corpus(spark)
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 4))
        for r in jaccard_ngram_pairs(df, n=3, threshold=0.4, max_key_freq=2).collect()
    )
    exact = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 4))
        for r in jaccard_prefix_pairs(df, n=3, threshold=0.4).collect()
    )
    assert exact == [(3, 4, 0.4286)]
    # (3, 4) shares only stop shingles, so the capped tier cannot see it
    assert got == []


def test_capped_containment_never_exceeds_true_score(spark):
    df = _capped_corpus(spark)
    got = sorted(
        (r.id_sub, r.id_super, round(r.containment, 4))
        for r in containment_pairs(df, n=3, threshold=0.5, max_key_freq=2).collect()
    )
    # doc 2 is wholly inside doc 1 (containment 1.0); doc 1 in doc 2 is
    # only 2/7, and stays under the threshold
    assert got == [(2, 1, 1.0)]


@pytest.mark.parametrize(
    "op", [embedding_near_dup_pairs, embedding_near_dup_pairs_frozen],
    ids=lambda op: op.__name__,
)
def test_embedding_verify_runs_its_kernel_once(spark, op):
    """One ``ArrowEvalPython`` node (one output id) evaluates the
    candidates' cosines, and no kernel runs over the vectors on the join
    sides; the bucket kernel belongs to the cached entries."""
    before = _persisted(spark)
    spark.conf.set("spark.sparkplug.release.enabled", "false")  # lazy plan
    try:
        plan = op(_vectors(spark), threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sparkplug.release.enabled")
        _free(spark, _persisted(spark) - before)
        spark.catalog.clearCache()
    nodes = set(re.findall(r"ArrowEvalPython \[(\w+)\(.*?\], \[(pythonUDF\d+#\d+)\]", plan))
    assert sorted(k for k, _ in nodes if k != "_buckets") == ["_cosine"], nodes
