"""Text-analysis operators over a documents table: stats/quality,
language-ID, fingerprints.  All narrow projections — zero shuffle."""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import materialize_release
from ..partitioning import spread
from ..functions.text import (
    STOPWORDS,
    lang_scores_t,
    mean_token_len_t,
    punct_ratio,
    quality_score_t,
    simhash32_pd,
    token_fingerprint,
    tokens_pd,
    normalize_text,
)

__all__ = [
    "hashed_embedding",
    "textrank_scores",
    "text_stats",
    "build_vocab",
    "vocab_coverage",
    "language_id",
    "language_id_trained",
    "train_language_id",
    "apply_language_id",
    "text_fingerprints",
    "top_tokens",
    "distinctive_tokens",
    "rare_token_ratio",
    "token_drift",
    "ngram_counts",
    "ngram_diversity",
    "phrase_scores",
    "source_divergence",
    "charlm_scores",
    "lexical_diversity",
    "token_fertility",
    "readability_scores",
    "extract_entities",
    "ENTITY_PATTERNS",
]

#: (entity_type, RE2∩Java-safe regex) — deliberately frozen and ordered
#: so Spark and any SQL oracle extract identical matches.  Specific
#: before general: a money match consumes its digits before the bare
#: number tier could (each tier extracts independently; overlap between
#: tiers is possible and expected — iso_date digits also match number).
ENTITY_PATTERNS: tuple[tuple[str, str], ...] = (
    ("iso_date", r"\b\d{4}-\d{2}-\d{2}\b"),
    ("time", r"\b\d{1,2}:\d{2}(?::\d{2})?\b"),
    ("money", r"[$€£]\d+(?:,\d{3})*(?:\.\d+)?"),
    ("percent", r"\b\d+(?:\.\d+)?%"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("url", r"https?://[^\s<>\"']+"),
)


def extract_entities(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: tuple[tuple[str, str], ...] = ENTITY_PATTERNS,
) -> DataFrame:
    """Regex-typed entity extraction: one row per match, ``(id_col,
    entity_type, match_pos, value)`` — the metadata layer cheap enough
    to run on 100 TB (dates, times, money, percents, emails, URLs) that
    feeds temporal filtering ("docs mentioning 2024 dates"), factuality
    slices, and structured-signal quality scores, without any model.

    Each pattern tier extracts independently (``match_pos`` is the
    match index WITHIN its tier, document order); a span may match two
    tiers (an iso_date is also digits) — dedup across tiers is the
    caller's policy, not silently imposed here.  Patterns are RE2∩Java
    safe (no lookaround/backrefs) so SQL oracles replay them verbatim.

    Plan: one ``regexp_extract_all`` per tier over the same projected
    text, unioned via a literal-array explode — zero UDF, zero joins;
    output rows stay collocated with their document."""
    tiers = F.array(
        *[
            F.struct(
                F.lit(name).alias("t"),
                F.regexp_extract_all(
                    F.coalesce(F.col(text_col), F.lit("")), F.lit(pat),
                    F.lit(0),
                ).alias("ms"),
            )
            for name, pat in patterns
        ]
    )
    exploded = spread(df).select(
        F.col(id_col), F.explode(tiers).alias("__tier")
    )
    return exploded.select(
        id_col,
        F.col("__tier.t").alias("entity_type"),
        F.posexplode(F.col("__tier.ms")).alias("match_pos", "value"),
    ).select(
        id_col,
        "entity_type",
        F.col("match_pos").cast("long").alias("match_pos"),
        "value",
    )


def distinctive_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    release: bool = True,
) -> DataFrame:
    """Per-document top-``k`` DISTINCTIVE tokens by tf·N/df (the tf-idf
    shape without the engine-dependent log): tokens frequent in this doc
    but rare in the corpus — keyword extraction / topic tagging for corpus
    exploration.

    Plan: tokenize once → (doc, token) counts → token document-frequency
    (one more aggregate over the same exploded data, map-side combined) →
    broadcast-scalar N → one shuffle join on the token key → per-doc
    windowed top-k.  ``score = (tf * N) / df`` is exact integer arithmetic
    with ONE final double division, so both engines produce bit-identical
    doubles.  At scale the df table is vocabulary-sized; AQE handles the
    stop-word skew the same way the dedup operators handle hot shingles."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    exploded = (
        spread(df)
        .select(F.col(id_col), F.explode(tokens_pd(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    # tf feeds BOTH the output rows and the document-frequency aggregate —
    # without persist the tokenizer UDF + explode + shuffle run twice
    tf = (
        exploded.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("token")
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "score", "rank")
    )
    # top-k rows per doc ≪ the persisted (doc, token) tf table
    return materialize_release(out, tf, release=release)


def top_tokens(
    df: DataFrame,
    group_col: str | None = "lang",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-``k`` most frequent tokens per group (corpus vocabulary/heavy-
    hitter report): explode the tokenize-once array → two-level count
    (partial map-side combine comes free with groupBy) → windowed top-k.
    Deterministic tie-break on the token string.  With ``group_col=None``
    the report is corpus-global (single window partition — the per-group
    form is the scale path)."""
    from pyspark.sql import Window

    keys = [group_col] if group_col else []
    exploded = (
        spread(df)
        .select(*keys, F.explode(tokens_pd(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    counts = exploded.groupBy(*keys, "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(*keys).orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token/char counts, mean token length, punctuation ratio, quality
    score — the pre-filter columns of a training-data pipeline.

    Tokenizes ONCE per row (Arrow kernel materializes the token array;
    every stat derives from that attribute).  Inlining the tokens
    expression instead re-evaluates 2×regexp_replace+split per derived
    column after projection collapse — per-element re-evaluation of
    anything computable once is the hot-path waste class this package
    bans."""
    c = F.col(text_col)
    t = F.col("__toks")
    return (
        spread(df)
        .withColumn("__toks", tokens_pd(c))
        .withColumns(
            {
                "n_tokens": F.size(t),
                # normalized text == tokens re-joined (normalize collapses
                # whitespace, so the join is lossless)
                "n_chars_norm": F.length(F.array_join(t, " ")),
                "mean_token_len": mean_token_len_t(t),
                "punct_ratio": punct_ratio(c),
                "quality_score": quality_score_t(t, c),
            }
        )
        .drop("__toks")
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language ID: argmax over per-language scores, with
    deterministic alphabetical tie-break; 'und' when all scores are 0.
    Tokenizes once (see :func:`text_stats`)."""
    c = F.col(text_col)
    df = spread(df).withColumn("__toks", tokens_pd(c))
    scores = lang_scores_t(F.col("__toks"))
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col("lang_scores")[lang] for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties (checked last)
        pred = F.when(
            F.col("lang_scores")[lang] == F.col("lang_best"), F.lit(lang)
        ).otherwise(pred)
    pred = F.when(F.col("lang_best") <= 0.0, F.lit("und")).otherwise(pred)
    return (
        df.withColumn("lang_scores", scores)
        .withColumn("lang_best", best)
        .withColumn("lang_pred", pred)
        .drop("__toks")
    )


def language_id_trained(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: DataFrame | None = None,
    label_col: str = "lang",
    gram_sizes: tuple[int, ...] = (2, 3),
    release: bool = True,
) -> DataFrame:
    """TRAINED language ID: multiclass multinomial naive Bayes over raw
    character n-grams (the fastText-style LID shape — Joulin et al.
    2017 use char n-gram bags; this is the engine-exact relational
    form).  Unlike :func:`language_id`'s stopword-ratio heuristic, the
    model learns whatever character distribution separates the labeled
    sample's languages — including stopword-free scripts — and scales
    to as many classes as the training labels carry.

    Trained on ``train_df`` (default: ``df`` itself — self-training on
    its own ``label_col``; in that mode only LABELED documents are
    scored — pass an explicit ``train_df`` to score every row of
    ``df``).
    Exactness discipline is E128's (:func:`~.scoring.
    naive_bayes_classifier`): per-(gram, lang) Laplace-smoothed
    log-likelihoods ``ln(c+1) − ln(T_lang + V)`` and document-count
    priors ``ln(d_lang + 1)`` are quantized to INTEGER MICRO-NATS the
    moment they are computed, so per-document scores are exact BIGINT
    sums — bit-identical across partitionings and engines.  Grams
    absent from the training vocabulary are dropped (standard NB OOV
    handling); in-vocabulary grams unseen in a class contribute that
    class's smoothed floor.  Prediction = argmax with ties to the
    alphabetically first language; ``margin_micros`` (winner minus
    runner-up, 0 for a single class) is the confidence a router would
    threshold on.

    Returns (id_col, lang_pred, score_micros, margin_micros).
    Documents with no in-vocabulary grams (e.g. shorter than
    ``min(gram_sizes)``) are dropped — no evidence to classify.

    Scale shape (100 TB): training is relational — one Arrow gram pass
    over the LABELED sample, one count groupBy, and a |vocab| × |langs|
    weight table (alphabet-bounded, orders of magnitude smaller than
    the corpus) collected into a model dict
    (:func:`train_language_id`); scoring is the stateless closure tier
    (:func:`apply_language_id`) — ONE Arrow pass over the corpus with
    the weights riding the closure, no gram explode, no per-document
    shuffle, no argmax window.  The two tiers compute identical
    integers (pinned by test), so delegating here changed no output;
    the old relational apply joined every (doc, gram) occurrence
    against the weight table and re-aggregated per document — two
    corpus-sized exchanges the closure pass does not pay.  ``release``
    is accepted for API compatibility; the closure path holds no
    persisted intermediates (training releases its own)."""
    model = train_language_id(
        train_df if train_df is not None else df,
        text_col=text_col,
        label_col=label_col,
        gram_sizes=gram_sizes,
    )
    target = (
        df
        if train_df is not None
        else df.where(F.col(label_col).isNotNull())
    )
    return apply_language_id(
        target, model, text_col=text_col, id_col=id_col
    )


def text_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content digests: md5 of normalized text (exact), token-set
    fingerprint (order-insensitive), 32-bit simhash (near-dup)."""
    c = F.col(text_col)
    return spread(df).withColumns(
        {
            "content_md5": F.md5(normalize_text(c)),
            "token_fingerprint": token_fingerprint(c),
            "simhash": simhash32_pd(c),
        }
    )


def build_vocab(
    df: DataFrame,
    text_col: str = "text",
    max_size: int = 10000,
    min_count: int = 1,
) -> DataFrame:
    """Corpus vocabulary: the ``max_size`` most frequent tokens with
    counts and a deterministic rank (count desc, token asc) — the input
    a tokenizer-training / stopword-discovery step consumes.

    Plan: tokenize (shared Arrow kernel) → explode → two-level count
    with map-side combine → global top-N.  The top-N is a
    ``TakeOrdered``-style limit (per-partition heaps, no full sort
    shuffle); the rank window then runs over only ``max_size`` rows —
    bounded driver-side-safe state, never a whole-vocabulary single
    partition."""
    from pyspark.sql import Window

    if max_size <= 0 or min_count <= 0:
        raise ValueError("max_size and min_count must be positive")
    counts = (
        spread(df)
        .select(F.explode(tokens_pd(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(max_size)
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return counts.withColumn("rank", F.row_number().over(w)).select(
        "token", "n", "rank"
    )


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    max_size: int = 1000,
    min_count: int = 1,
) -> DataFrame:
    """Corpus word n-gram counts (language-model count table / collocation
    report): the ``max_size`` most frequent n-grams with a deterministic
    rank (count desc, gram asc).  Only FULL n-grams count — documents
    shorter than ``n`` tokens contribute nothing (unlike the shingle
    kernel's min-1 padding, which exists for set semantics).

    Plan: tokenize once (shared Arrow kernel) → n-grams as a narrow
    ``transform`` over materialized token arrays → explode → two-level
    count with map-side combine → ``TakeOrdered`` limit (per-partition
    heaps, no full-sort shuffle); the rank window touches only the
    bounded ``max_size`` rows."""
    from pyspark.sql import Window

    if n <= 0 or max_size <= 0 or min_count <= 0:
        raise ValueError("n, max_size and min_count must be positive")
    toks = F.filter(tokens_pd(F.col(text_col)), lambda t: t != F.lit(""))
    # materialize the token array first: transform lambdas re-evaluate
    # their input expression per element
    with_toks = spread(df).select(toks.alias("__toks"))
    # short docs drop via explode-of-empty, NOT a Filter row-predicate — a
    # pushed-down filter would duplicate the tokenizer UDF into the Filter
    # condition (two ArrowEvalPython nodes; plan-shape lock pins one)
    grams = with_toks.select(
        F.explode(
            F.when(
                F.size("__toks") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - F.lit(n - 1)),
                    lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ngram")
    )
    counts = (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(max_size)
    )
    w = Window.orderBy(F.desc("n"), F.asc("ngram"))
    return counts.withColumn("rank", F.row_number().over(w)).select(
        "ngram", "n", "rank"
    )


def rare_token_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    release: bool = True,
) -> DataFrame:
    """Rare-token quality signal: per document, the fraction of token
    INSTANCES whose corpus-wide count is below ``min_count`` —
    OOV-heavy/gibberish documents score high, natural text low (the
    vocabulary-coverage quality filter of CCNet-style pipelines, without
    the engine-dependent LM perplexity).

    Output: (doc_id, n_tokens, n_rare, rare_ppm) — ``rare_ppm`` is
    ``1e6·n_rare // n_tokens`` (exact integer division; BIGINT in every
    engine).  Empty documents report 0/0/0.

    Plan: tokenize once (persisted — both the corpus-count aggregate and
    the per-doc join consume it), reduce to the FREQUENT vocabulary
    (count ≥ min_count — the head of the Zipf curve, far smaller than the
    full vocab), left-join exploded tokens against it on the token key:
    unmatched = rare.  AQE broadcasts the frequent table when it fits;
    otherwise it's a plain shuffled equi-join on the token key — never a
    driver-side vocabulary collect."""
    from pyspark.storagelevel import StorageLevel

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    exploded = (
        spread(df)
        .select(F.col(id_col), F.explode(tokens_pd(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    frequent = (
        exploded.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("token", F.lit(True).alias("__freq"))
    )
    per_doc = (
        exploded.join(frequent, "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__freq").isNull().cast("long")).alias("n_rare"),
        )
    )
    # docs whose tokenization is empty never reach the explode: restore
    # them with zero counts so the operator is total over the input.
    # integer DIV, never double-divide-then-cast: a quotient just below an
    # integer can round UP to it as a double, truncating differently than
    # an engine's exact floor division
    out = (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_rare", F.lit(0)).cast("long").alias("n_rare"),
        )
        .withColumn(
            "rare_ppm",
            F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
                F.expr("(1000000 * n_rare) DIV n_tokens")
            ),
        )
    )
    return materialize_release(out, exploded, release=release)


def token_drift(
    df: DataFrame,
    group_a: str,
    group_b: str,
    text_col: str = "text",
    group_col: str = "source",
    top_n: int = 100,
    release: bool = True,
) -> DataFrame:
    """Token-distribution drift between two corpus slices (sources,
    snapshots, time windows): the ``top_n`` tokens whose parts-per-million
    share moved the most between slice ``group_a`` and slice ``group_b`` —
    the monitoring pass that catches topic/pipeline shift between crawls
    before a model trains on it.

    Output: (token, cnt_a, cnt_b, ppm_a, ppm_b, delta_ppm, rank), ranked
    by |delta_ppm| descending with the token string as the deterministic
    tiebreak.  Shares are exact integer ppm (1e6·cnt // total), so both
    engines rank identically.

    Plan: one map-side-combined (slice, token) count over the two slices
    only (filter pushed to the scan), conditional-sum pivot to one row per
    token, scalar totals via a 1-row cross join (broadcast), then a
    TakeOrdered top-N — per-partition heaps, no global sort shuffle; the
    rank window runs over the ``top_n`` collected rows only."""
    from pyspark.sql import Window

    if top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")
    sliced = spread(df).filter(F.col(group_col).isin([group_a, group_b]))
    counts = (
        sliced.select(
            F.col(group_col).alias("g"),
            F.explode(tokens_pd(F.col(text_col))).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("g", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_token = counts.groupBy("token").agg(
        F.sum(F.when(F.col("g") == group_a, F.col("n")).otherwise(0)).alias("cnt_a"),
        F.sum(F.when(F.col("g") == group_b, F.col("n")).otherwise(0)).alias("cnt_b"),
    )
    totals = per_token.agg(
        F.sum("cnt_a").alias("__tot_a"), F.sum("cnt_b").alias("__tot_b")
    )
    # integer DIV (exact floor) — see rare_token_ratio for why not a
    # double division.  Totals are per-slice token instances: the 1e6
    # product stays far inside LONG range for any real corpus slice.
    ppm_a = F.expr("(1000000 * cnt_a) DIV __tot_a")
    ppm_b = F.expr("(1000000 * cnt_b) DIV __tot_b")
    scored = (
        per_token.crossJoin(F.broadcast(totals))
        .select(
            "token",
            "cnt_a",
            "cnt_b",
            ppm_a.alias("ppm_a"),
            ppm_b.alias("ppm_b"),
            (ppm_a - ppm_b).alias("delta_ppm"),
        )
        .orderBy(F.abs(F.col("delta_ppm")).desc(), F.col("token"))
        .limit(top_n)
    )
    w = Window.orderBy(F.abs(F.col("delta_ppm")).desc(), F.col("token"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long"))


def phrase_scores(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    delta: int = 3,
    release: bool = True,
) -> DataFrame:
    """Corpus collocation mining via the word2vec phrase score (Mikolov
    et al. 2013, "Distributed Representations of Words and Phrases"):
    adjacent token pairs scored ``(c_ab − δ)·N·10⁶ div (c_a·c_b)`` —
    the observed-vs-independent adjacency ratio with a discount δ that
    suppresses rare-pair noise, in EXACT truncating integer ppm (no
    float division, engine-reproducible).  Pairs scoring high are the
    multi-word units ("new york") a tokenizer vocabulary or phrase-aware
    embedding pass should treat as single tokens.

    Output: (token_a, token_b, n_pair, score_ppm) for adjacent pairs with
    ``n_pair ≥ max(min_count, δ+1)``.

    Overflow headroom: needs ``c_ab·N < 9.2·10¹²`` before the ·10⁶ —
    fine while the corpus is below ~10¹² tokens or the hottest bigram
    below ~10⁶ occurrences at that size; rescale to per-mille beyond.

    Scale shape: tokenize ONCE per row (persisted array, released on
    return); unigram and bigram streams both read the materialized
    array — narrow explodes, two map-side-combined counts; the scalar
    token total rides a 1-row broadcast; the pair→unigram joins are
    vocabulary-sized and AQE-broadcast when they fit."""
    if min_count <= 0 or delta < 0:
        raise ValueError("min_count must be positive and delta >= 0")
    from ..caching import materialize_release
    from ..partitioning import spread

    toks = F.filter(tokens_pd(F.col(text_col)), lambda t: t != F.lit(""))
    base = spread(df).select(toks.alias("__toks")).persist()
    uni = base.select(F.explode("__toks").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("c")
    )
    total = uni.agg(F.sum("c").alias("n_total"))
    pairs = (
        base.select(
            F.explode(
                F.when(
                    F.size("__toks") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("__toks") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("__toks"), i).alias("a"),
                            F.element_at(F.col("__toks"), i + 1).alias("b"),
                        ),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<a:string,b:string>>")
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("token_a"), F.col("p.b").alias("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= max(min_count, delta + 1))
    )
    out = (
        pairs.join(
            uni.select(F.col("t").alias("token_a"), F.col("c").alias("__ca")),
            "token_a",
        )
        .join(
            uni.select(F.col("t").alias("token_b"), F.col("c").alias("__cb")),
            "token_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "token_a",
            "token_b",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.expr(
                f"((n_pair - {delta}) * n_total * 1000000)"
                " div (__ca * __cb)"
            )
            .cast("long")
            .alias("score_ppm"),
        )
    )
    return materialize_release(out, base, release=release)


def source_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    release: bool = True,
) -> DataFrame:
    """Pairwise Jensen–Shannon divergence matrix between corpus slices'
    token distributions — the domain-similarity map a mixture planner
    reads before weighting sources (complements :func:`token_drift`,
    which explains ONE pair token-by-token; this scores EVERY pair with
    one bounded scalar, JS ∈ [0, ln 2]).

    Per ordered token contribution ``½·p·ln(2p/(p+q))`` (and the mirror
    for q), where p, q are the token's probability in each slice; each
    term is quantized to INTEGER NANO-NATS (floor(x·10⁹ + 0.5)) before
    the exact integer sum, so the matrix is engine-reproducible (terms
    are ~1e-7 — micro-units would flush them to zero, nano keeps 2+
    digits; the bounded sum stays ≪ 2⁶³).

    Returns (source_a, source_b, js_nanonats, n_tokens_union) with
    source_a < source_b.

    Scale shape: ONE (slice, token) count pass (map-side combined,
    persisted, released on return) — the V·S table everything else
    derives from; slice totals are an S-row broadcast; the pairwise
    terms are two slice-inequality token joins over that bounded table,
    never over the corpus."""
    from ..caching import materialize_release
    from ..partitioning import spread

    counts = (
        spread(df)
        .select(
            F.col(group_col).alias("g"),
            F.explode(
                F.filter(tokens_pd(F.col(text_col)), lambda t: t != F.lit(""))
            ).alias("t"),
        )
        .groupBy("g", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .persist()
    )
    totals = counts.groupBy("g").agg(F.sum("c").alias("tot"))
    a = (
        counts.withColumnsRenamed({"g": "ga", "c": "ca"})
        .join(F.broadcast(totals.withColumnsRenamed({"g": "ga", "tot": "ta"})), "ga")
    )
    b = (
        counts.withColumnsRenamed({"g": "gb", "c": "cb"})
        .join(F.broadcast(totals.withColumnsRenamed({"g": "gb", "tot": "tb"})), "gb")
    )
    # shared tokens of each unordered slice pair; tokens present in only
    # one slice are handled in closed form below (q=0 ⇒ term = ½·p·ln2),
    # so no full-outer join is needed
    pa = a.join(b, ["t"], "inner").filter(F.col("ga") < F.col("gb"))
    p = F.col("ca").cast("double") / F.col("ta").cast("double")
    q = F.col("cb").cast("double") / F.col("tb").cast("double")
    nano = lambda x: F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("long")
    both = pa.select(
        "ga",
        "gb",
        (
            nano(F.lit(0.5) * p * F.log(F.lit(2.0) * p / (p + q)))
            + nano(F.lit(0.5) * q * F.log(F.lit(2.0) * q / (p + q)))
        ).alias("term"),
        "ca",
        "cb",
    )
    pairs = (
        totals.alias("x")
        .crossJoin(totals.alias("y"))
        .filter(F.col("x.g") < F.col("y.g"))
        .select(
            F.col("x.g").alias("ga"),
            F.col("y.g").alias("gb"),
            F.col("x.tot").alias("ta"),
            F.col("y.tot").alias("tb"),
        )
    )
    # tokens present in A only: q = 0 -> term = ½·p·ln2 (and mirror);
    # computed as slice-level remainders: Σ_only_a p = 1 - Σ_shared p
    shared = both.groupBy("ga", "gb").agg(
        F.sum("term").alias("js_shared"),
        F.count(F.lit(1)).cast("long").alias("n_shared"),
        F.sum("ca").alias("ca_shared"),
        F.sum("cb").alias("cb_shared"),
    )
    vocab = counts.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("v"))
    out = (
        pairs.join(shared, ["ga", "gb"], "left")
        .join(F.broadcast(vocab.withColumnsRenamed({"g": "ga", "v": "va"})), "ga")
        .join(F.broadcast(vocab.withColumnsRenamed({"g": "gb", "v": "vb"})), "gb")
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            (
                F.coalesce(F.col("js_shared"), F.lit(0))
                + nano(
                    F.lit(0.5)
                    * (
                        (F.col("ta") - F.coalesce(F.col("ca_shared"), F.lit(0)))
                        .cast("double")
                        / F.col("ta").cast("double")
                    )
                    * F.log(F.lit(2.0))
                )
                + nano(
                    F.lit(0.5)
                    * (
                        (F.col("tb") - F.coalesce(F.col("cb_shared"), F.lit(0)))
                        .cast("double")
                        / F.col("tb").cast("double")
                    )
                    * F.log(F.lit(2.0))
                )
            ).alias("js_nanonats"),
            (
                F.col("va") + F.col("vb")
                - F.coalesce(F.col("n_shared"), F.lit(0))
            ).alias("n_tokens_union"),
        )
    )
    return materialize_release(out, counts, release=release)


def charlm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    train_df: DataFrame | None = None,
    release: bool = True,
) -> DataFrame:
    """CCNet-style language-model quality scores from a character-trigram
    LM (Wenzek et al. 2020 score documents with a reference LM; this is
    the engine-exact relational form).  The LM is trained on ``train_df``
    (default: ``df`` itself — self-scoring flags gibberish/boilerplate as
    low-probability text) and every document is scored by its mean
    in-context character probability:

        P(c₃|c₁c₂) ≈ (C₃(c₁c₂c₃) + 1) · 10⁶ DIV (C₂(c₁c₂) + V)

    — Laplace-smoothed MLE quantized to INTEGER PPM per position (V =
    distinct prediction-position characters in training), then an exact
    BIGINT per-doc sum; ``avg_prob_ppm`` is the one IEEE division of two
    exact integers, identical across engines.  C₂ counts bigrams AS
    CONTEXTS (trigram prefixes), so probabilities sum to ≤1 per context
    by construction.  Raw characters, no normalization — the LM sees what
    the engine stores.

    Returns (id_col, n_trigrams, sum_prob_ppm, avg_prob_ppm); documents
    shorter than 3 characters are dropped (no context to score).

    Scale shape: ONE Arrow trigram pass per corpus, persisted and shared
    by the three training aggregates (+ scoring when self-scoring), then
    released; the count tables are alphabet-bounded (≤|Σ|³ trigrams —
    ~1e6 even for full bytes) so they BROADCAST back onto the position
    stream: scoring is shuffle-free, the only wide op is the per-doc
    sum."""
    from ..functions.text import char_ngrams_pd

    intermediates: list[DataFrame] = []
    pos = spread(df).select(
        F.col(id_col),
        F.explode(char_ngrams_pd(F.col(text_col), 3)).alias("__tri"),
    )
    if train_df is None:
        if release:
            pos = pos.persist()
            intermediates.append(pos)
        train = pos.select("__tri")
    else:
        train = spread(train_df).select(
            F.explode(char_ngrams_pd(F.col(text_col), 3)).alias("__tri")
        )
        if release:
            train = train.persist()
            intermediates.append(train)
    c3 = train.groupBy("__tri").agg(
        F.count(F.lit(1)).cast("long").alias("__c3")
    )
    c2 = (
        train.select(F.substring("__tri", 1, 2).alias("__ctx"))
        .groupBy("__ctx")
        .agg(F.count(F.lit(1)).cast("long").alias("__c2"))
    )
    v = train.agg(
        F.countDistinct(F.substring("__tri", 3, 1)).cast("long").alias("__v")
    )
    scored = (
        pos.join(F.broadcast(c3), "__tri", "left")
        .withColumn("__ctx", F.substring("__tri", 1, 2))
        .join(F.broadcast(c2), "__ctx", "left")
        .crossJoin(F.broadcast(v))
        .select(
            id_col,
            F.expr(
                "(coalesce(__c3, 0) + 1) * 1000000"
                " div (coalesce(__c2, 0) + __v)"
            ).alias("__ppm"),
        )
    )
    out = (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.sum("__ppm").cast("long").alias("sum_prob_ppm"),
        )
        .select(
            id_col,
            "n_trigrams",
            "sum_prob_ppm",
            (
                F.col("sum_prob_ppm").cast("double")
                / F.col("n_trigrams").cast("double")
            ).alias("avg_prob_ppm"),
        )
    )
    return materialize_release(out, *intermediates, release=release)


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexical-diversity signals: type-token ratio and
    Shannon token entropy — the repetitiveness axis the count-based
    quality tiers (E14 stats, E29 Gopher, E141 repetition) don't
    measure.  A doc that repeats one phrase has high quality-score but
    near-zero entropy; corpus curation uses this to drop template spam.

    Entropy is ``H = ln(n) − (Σ_t c_t·ln c_t)/n`` over per-doc token
    counts.  Engine-exactness discipline (the E137 nano-nats pattern):
    each ``c·ln c`` term is quantized to integer nano-nats BEFORE the
    exact BIGINT sum, the division is integer ``div``, and ``ln(n)`` is
    quantized the same way — so the result is reproducible bit-for-bit
    by a SQL oracle.  TTR is pure integer ppm.

    Returns (doc_id, n_tokens, n_types, ttr_ppm, entropy_nanonats) for
    docs with ≥1 token.

    Scale shape: one tokenize pass (Arrow kernel), one (doc, token)
    map-side-combinable count, one per-doc fold — shuffles carry counts,
    never text.  No windows, no joins.
    """
    nano = lambda x: F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("long")
    counts = (
        spread(df)
        .select(
            F.col(id_col),
            F.explode(
                F.filter(tokens_pd(F.col(text_col)), lambda t: t != F.lit(""))
            ).alias("__t"),
        )
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(nano(F.col("__c").cast("double") * F.log(F.col("__c").cast("double"))))
        .alias("__s"),
    )
    out = per_doc.select(
        id_col,
        "n_tokens",
        "n_types",
        F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
        (
            nano(F.log(F.col("n_tokens").cast("double")))
            - F.expr("__s div n_tokens")
        ).alias("entropy_nanonats"),
    )
    return out


def token_fertility(
    df: DataFrame,
    group_cols: Sequence[str] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility report per corpus slice: tokens produced per
    character, under both the whitespace tokenizer and the BPE-style
    pre-tokenizer (E16b's two counters, aggregated to the slice level).
    The compute-budget planning table: fertility × chars = sequence
    length, and a slice whose bpe fertility far exceeds its ws fertility
    is symbol-heavy (code, tables, CJK-in-latin-corpus) and will eat
    context windows.

    All counters are exact BIGINT sums; the per-1000-chars rates are
    integer ``div`` (ppk), so the report is engine-reproducible.

    Returns one row per slice: (group cols…, n_docs, n_chars,
    n_tokens_ws, n_tokens_bpe, ws_per_kchar, bpe_per_kchar).

    Scale shape: both token counts are JVM regexp folds inside the scan
    projection (no explode, no Arrow), then ONE map-side-combinable
    groupBy on the slice key.  Shuffles carry 4 longs per slice-partition.
    """
    from ..functions.text import token_count_bpe, tokens

    t = F.col(text_col)
    per_doc = spread(df).select(
        *[F.col(c) for c in group_cols],
        F.length(t).cast("long").alias("__chars"),
        F.size(F.filter(tokens(t), lambda x: x != F.lit(""))).cast("long").alias(
            "__ws"
        ),
        token_count_bpe(t).cast("long").alias("__bpe"),
    )
    return (
        per_doc.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__chars").alias("n_chars"),
            F.sum("__ws").alias("n_tokens_ws"),
            F.sum("__bpe").alias("n_tokens_bpe"),
        )
        .select(
            *group_cols,
            "n_docs",
            "n_chars",
            "n_tokens_ws",
            "n_tokens_bpe",
            F.expr("n_tokens_ws * 1000 div n_chars").alias("ws_per_kchar"),
            F.expr("n_tokens_bpe * 1000 div n_chars").alias("bpe_per_kchar"),
        )
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch-style readability per document — the classic
    sentence/word-shape quality signal next to the statistical tiers
    (E14 counts, E139 char-LM, E151 entropy): education-level text sits
    mid-range, keyword spam and run-on boilerplate fall off both ends.

    Counters are pure JVM regexp folds: words = whitespace tokens,
    sentences = ``[.!?]+`` runs (min 1 so headlines don't divide by
    zero), syllables ≈ vowel-group runs ``[aeiouy]+`` of the lowercased
    text (the standard cheap approximation — group boundaries fall at
    consonants/spaces, so no word split is needed).  The Flesch formula
    is evaluated in INTEGER MILLI-POINTS with truncating integer
    division — ``206835 − 1015·words div sentences − 84600·syllables
    div words`` — defined identically in both engines, so the score is
    engine-exact (a float evaluation would round differently).

    Returns (doc_id, n_words, n_sentences, n_syllables, flesch_milli).
    Docs with zero words are omitted.

    Scale shape: one narrow codegen projection — zero shuffle, zero
    Python, column-pruned scan.
    """
    from ..functions.text import tokens

    t = F.col(text_col)
    words = F.size(F.filter(tokens(t), lambda x: x != F.lit("")))
    sentences = F.greatest(
        F.size(F.split(t, r"[.!?]+")) - F.lit(1), F.lit(1)
    )
    syllables = F.size(
        F.filter(
            F.split(F.lower(t), r"[^aeiouy]+"), lambda x: x != F.lit("")
        )
    )
    out = (
        spread(df)
        .select(
            F.col(id_col),
            words.cast("long").alias("n_words"),
            sentences.cast("long").alias("n_sentences"),
            syllables.cast("long").alias("n_syllables"),
        )
        .filter(F.col("n_words") > 0)
        .withColumn(
            "flesch_milli",
            F.expr(
                "206835 - 1015 * n_words div n_sentences"
                " - 84600 * n_syllables div n_words"
            ).cast("long"),
        )
    )
    return out


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame | None = None,
    vocab_size: int = 1000,
    min_count: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document vocabulary coverage / OOV-rate report — the gate a
    tokenizer or frozen-vocab model check runs before training ("how much
    of this corpus falls outside the vocab?").  Pass ``vocab`` (any
    DataFrame with a ``token`` column, e.g. a shipped tokenizer's table or
    :func:`build_vocab` output) to audit against a FROZEN vocabulary; by
    default the top-``vocab_size`` corpus vocabulary is built in place.

    Output: (id, n_tokens, n_oov, oov_ppm) — ``oov_ppm`` is the exact
    integer ``n_oov·10⁶ div max(n_tokens, 1)``; zero-token docs report
    (0, 0, 0) rather than dropping out.

    Scale shape: the vocab is bounded (≤ ``vocab_size`` rows) and
    BROADCAST — the corpus-side explode joins with zero shuffle of token
    rows; the per-doc count is one partial-aggregated groupBy on the id.
    """
    if vocab is None:
        vocab = build_vocab(
            df, text_col=text_col, max_size=vocab_size, min_count=min_count
        )
    toks = (
        spread(df)
        .select(F.col(id_col), F.explode(tokens_pd(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    joined = toks.join(
        F.broadcast(vocab.select("token", F.lit(True).alias("__in_vocab"))),
        "token",
        "left",
    )
    per = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(F.col("__in_vocab").isNull(), True)).alias("n_oov"),
    )
    return df.select(id_col).join(per, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
        F.expr("coalesce(n_oov, 0) * 1000000 DIV greatest(coalesce(n_tokens, 0), 1)")
        .cast("long")
        .alias("oov_ppm"),
    )


def hashed_embedding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 64,
    as_rows: bool = False,
    keep_empty_docs: bool = True,
) -> DataFrame:
    """Model-free text embedding by signed feature hashing (Weinberger
    et al. 2009): token → md5 bucket (``hash60 % dim``), sign from the
    next hash bit, signed counts L2-normalized and quantized to integer
    MICRO units.  The bridge that lets the text table flow into the
    similarity family (cosine top-k, near-dup pairs, dim-truncation
    audit) with NO external model: deterministic md5 end to end, so the
    vectors are engine-reproducible and integer products over them are
    exact.

    Default returns (id, embedding array<float> of micro-unit values /
    1e6 — plug-compatible with the similarity operators);
    ``as_rows=True`` returns the sparse relational form (id, bucket,
    w_micros) that a SQL engine reproduces row for row.

    Exactness: the norm is one IEEE sqrt of an exact integer
    sum-of-squares and each weight one IEEE division, floored to micros
    — deterministic across engines (no libm).  All-zero docs (no
    tokens) embed as the zero vector.

    Plan: explode → (id, bucket) signed-count aggregate → per-doc norm
    via ONE window over the count rows (partitioned by id — no second
    aggregate, no self-join, so the explode chain runs once).  With
    ``keep_empty_docs=False`` the distinct-id scan + left join that
    re-attach zero-vector docs are skipped too — the right call when
    the consumer filters zero weights anyway (the semantic-decontam
    tier does)."""
    from pyspark.sql import Window

    from ..functions.text import hash60, tokens_pd

    if dim < 2:
        raise ValueError("dim must be >= 2")
    toks = spread(df).select(
        F.col(id_col).alias("__id"),
        F.explode(tokens_pd(F.col(text_col))).alias("__t"),
    )
    h = hash60(F.col("__t"))
    signed = toks.select(
        "__id",
        F.pmod(h, F.lit(dim)).cast("int").alias("bucket"),
        F.when(
            F.pmod(F.shiftrightunsigned(h, 20), F.lit(2)) == 0, F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("__sgn"),
    )
    cnt = signed.groupBy("__id", "bucket").agg(
        F.sum("__sgn").cast("long").alias("__c")
    ).filter(F.col("__c") != 0)
    wnorm = Window.partitionBy("__id")
    w = cnt.select(
        "__id",
        "bucket",
        F.floor(
            F.col("__c").cast("double")
            / F.sqrt(
                F.sum(F.col("__c") * F.col("__c")).over(wnorm).cast("double")
            )
            * F.lit(1e6)
        )
        .cast("long")
        .alias("w_micros"),
    )
    if as_rows and not keep_empty_docs:
        return w.select(
            F.col("__id").alias(id_col), "bucket", "w_micros"
        )
    ids = df.select(F.col(id_col).alias("__id")).dropDuplicates(["__id"])
    if as_rows:
        return ids.join(w, "__id", "left").select(
            F.col("__id").alias(id_col),
            F.coalesce("bucket", F.lit(0)).alias("bucket"),
            F.coalesce("w_micros", F.lit(0)).alias("w_micros"),
        )
    dense = w.groupBy("__id").agg(
        F.aggregate(
            F.collect_list(F.struct("bucket", "w_micros")),
            F.array_repeat(F.lit(0.0), dim),
            lambda acc, x: F.transform(
                acc,
                lambda v, i: F.when(
                    i == x["bucket"],
                    x["w_micros"].cast("double") / F.lit(1e6),
                ).otherwise(v),
            ),
        ).alias("embedding")
    )
    return ids.join(dense, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce(
            F.col("embedding").cast("array<float>"),
            F.array_repeat(F.lit(0.0).cast("float"), dim),
        ).alias("embedding"),
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_values: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity report (the distinct-1/2/3 metric of Li et
    al. 2016, standard for scoring generated/synthetic corpora before
    they enter a training mix): per document and n-gram order,
    ``n_grams`` (with multiplicity), ``n_distinct``, and
    ``distinct_ppm = n_distinct·1e6 div max(n_grams, 1)`` — low values
    flag degenerate repetition that length-normalized quality scores
    miss.  Documents shorter than ``n`` tokens report (0, 0, 0) for
    that order.

    Returns (id_col, n, n_grams, n_distinct, distinct_ppm) — one row
    per (doc, n).

    Scale shape: ONE Arrow pass computes every order's counts from one
    tokenization (16 bytes out per doc·order, no gram strings leave the
    kernel, no explode, no shuffle)."""
    from pyspark.sql import types as T

    from ..functions.text import norm_tokens_py

    orders = tuple(int(n) for n in n_values)
    if not orders or any(n < 1 for n in orders):
        raise ValueError("n_values must be non-empty positive orders")

    out_t = T.ArrayType(
        T.StructType(
            [
                T.StructField("n", T.LongType()),
                T.StructField("n_grams", T.LongType()),
                T.StructField("n_distinct", T.LongType()),
            ]
        )
    )

    @F.pandas_udf(out_t)
    def _div(s: pd.Series) -> pd.Series:
        rows = []
        for text in s:
            toks = norm_tokens_py(text)
            per = []
            for n in orders:
                k = len(toks) - n + 1
                if k <= 0:
                    per.append({"n": n, "n_grams": 0, "n_distinct": 0})
                    continue
                grams = {" ".join(toks[i : i + n]) for i in range(k)}
                per.append(
                    {"n": n, "n_grams": k, "n_distinct": len(grams)}
                )
            rows.append(per)
        return pd.Series(rows)

    return (
        spread(df)
        .select(F.col(id_col), F.explode(_div(F.col(text_col))).alias("__d"))
        .select(
            id_col,
            F.col("__d.n").alias("n"),
            F.col("__d.n_grams").alias("n_grams"),
            F.col("__d.n_distinct").alias("n_distinct"),
            F.expr(
                "__d.n_distinct * 1000000L div greatest(__d.n_grams, 1L)"
            ).alias("distinct_ppm"),
        )
    )


def train_language_id(
    train_df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    gram_sizes: tuple[int, ...] = (2, 3),
) -> dict:
    """Train the :func:`language_id_trained` model and RETURN it as a
    plain dict — the serving artifact for the closure-apply tiers
    (:func:`apply_language_id`, streaming routing), where a stateless
    Arrow pass beats re-running the relational join per micro-batch.

    The weights come from the SAME relational aggregations as
    :func:`language_id_trained` (collected afterwards), so the two
    paths score every document with IDENTICAL integers — pinned by
    test.  Model size is |vocab|·|langs| integers — alphabet-bounded
    megabytes, safe to broadcast/pickle.

    Returns {"langs": [...], "weights": {gram: [w_micros per lang]},
    "priors": [p_micros per lang], "gram_sizes": (...)}."""
    from ..functions.text import char_multi_ngrams_pd

    micros = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    sizes = tuple(int(n) for n in gram_sizes)
    train = (
        spread(train_df)
        .where(F.col(label_col).isNotNull())
        .select(
            F.col(label_col).alias("__l"),
            F.explode(
                char_multi_ngrams_pd(F.col(text_col), sizes)
            ).alias("__g"),
        )
        .persist()
    )
    # counts feeds FOUR subtrees (totals, vocab size, vocab, and the
    # weight join) — un-persisted, each re-ran the corpus-sized gram
    # groupBy (measured 11.3 s -> ~3 s for the whole train at sf0.1)
    counts = train.groupBy("__g", "__l").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    ).persist()
    totals = counts.groupBy("__l").agg(F.sum("__c").alias("__t"))
    v = counts.agg(F.countDistinct("__g").cast("long").alias("__v"))
    vocab = counts.select("__g").distinct()
    langs_rows = totals.select("__l").collect()
    langs = sorted(r["__l"] for r in langs_rows)
    weights_df = (
        vocab.crossJoin(F.broadcast(totals.select("__l")))
        .join(counts, ["__g", "__l"], "left")
        .join(F.broadcast(totals), "__l")
        .crossJoin(F.broadcast(v))
        .select(
            "__g",
            "__l",
            micros(
                F.log(F.coalesce(F.col("__c"), F.lit(0)) + 1)
                - F.log(F.col("__t") + F.col("__v"))
            ).alias("__w"),
        )
    )
    idx = {l: i for i, l in enumerate(langs)}
    weights: dict = {}
    for r in weights_df.collect():
        weights.setdefault(r["__g"], [0] * len(langs))[idx[r["__l"]]] = r[
            "__w"
        ]
    priors_df = (
        train_df.where(F.col(label_col).isNotNull())
        .groupBy(F.col(label_col).alias("__l"))
        .agg(F.count(F.lit(1)).alias("__d"))
        .select("__l", micros(F.log(F.col("__d") + 1)).alias("__p"))
    )
    priors = [0] * len(langs)
    for r in priors_df.collect():
        priors[idx[r["__l"]]] = r["__p"]
    counts.unpersist()
    train.unpersist()
    return {
        "langs": langs,
        "weights": weights,
        "priors": priors,
        "gram_sizes": sizes,
    }


def apply_language_id(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a :func:`train_language_id` model in ONE
    stateless Arrow pass — the serving tier: the weight dict rides the
    closure (broadcast once per executor), no joins, no aggregations,
    so it runs unchanged on a STREAMING DataFrame (see
    ``streaming.streaming_language_route``).  Scores are the same exact
    integer sums as the relational :func:`language_id_trained` path
    (pinned by test).  Documents with no in-vocabulary grams are
    dropped, matching the relational tier.

    Returns (id_col, lang_pred, score_micros, margin_micros)."""
    from pyspark.sql import types as T

    langs = list(model["langs"])
    weights = model["weights"]
    priors = list(model["priors"])
    sizes = tuple(model["gram_sizes"])
    id_type = df.schema[id_col].dataType
    out_t = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("lang_pred", T.StringType()),
            T.StructField("score_micros", T.LongType()),
            T.StructField("margin_micros", T.LongType()),
        ]
    )

    def _score(batches):
        import numpy as np

        n_l = len(langs)
        pr = np.array(priors, dtype=np.int64)
        # weight MATRIX + gram→row index, built once per task: the
        # per-hit ``acc += weights[g]`` form re-converted the per-gram
        # python list to an ndarray on EVERY hit (~µs each), which
        # dominated sequential micro-batch scoring; one fancy-index
        # sum per doc is the same exact integer sum
        gid = {g: i for i, g in enumerate(weights)}
        if gid:
            W = np.asarray(list(weights.values()), dtype=np.int64)
        else:
            W = np.zeros((0, n_l), dtype=np.int64)
        for pdf in batches:
            ids, preds, scores, margins = [], [], [], []
            for rid, text in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                t = text if text is not None else ""
                idxs = []
                for n in sizes:
                    for i in range(len(t) - n + 1):
                        j = gid.get(t[i : i + n])
                        if j is not None:
                            idxs.append(j)
                if not idxs:
                    continue
                acc = W[idxs].sum(axis=0, dtype=np.int64) + pr
                # argmax with ties to the alphabetically first language:
                # langs is sorted, so the FIRST max index wins
                best = int(np.argmax(acc))
                top = int(acc[best])
                acc[best] = np.iinfo(np.int64).min
                second = int(acc.max()) if n_l > 1 else top
                ids.append(rid)
                preds.append(langs[best])
                scores.append(top)
                margins.append(top - second if n_l > 1 else 0)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "lang_pred": preds,
                    "score_micros": pd.array(scores, dtype="Int64"),
                    "margin_micros": pd.array(margins, dtype="Int64"),
                }
            )

    # batch: spread() lifts the single-row-group parquet scan to the
    # core count before the Arrow pass.  streaming: leave the source
    # partitioning alone — a repartition inside the micro-batch plan
    # adds a shuffle plus one Python-worker spin-up PER PARTITION per
    # micro-batch (32x for ~100-row replay batches), and at production
    # scale file-source batches already split by input size
    base = df if df.isStreaming else spread(df)
    return (
        base
        .select(F.col(id_col), F.col(text_col))
        .mapInPandas(_score, out_t)
        .withColumnRenamed("id", id_col)
    )


def _adjacent_token_pairs(df: DataFrame, text_col: str) -> DataFrame:
    """Unordered adjacent-token pairs (a ≤ b, self-pairs dropped)
    straight off the token ARRAY (zip t[i] with t[i+1]) instead of
    posexplode + a per-doc lead() window: the window form
    hash-exchanges and sorts the entire exploded token stream just to
    recover an order the array already has.  Equivalence with the old
    explode+filter(tok != "") form: the normalizer emits "" only as the
    lone token of an empty document (never mid-array), and a 1-token
    array yields no pairs either way."""
    t = F.col("__toks")
    n1 = F.greatest(F.size(t) - 1, F.lit(0))
    pairs_arr = F.zip_with(
        F.slice(t, 1, n1),
        F.slice(t, 2, n1),
        lambda p, q: F.struct(
            F.least(p, q).alias("a"),
            F.greatest(p, q).alias("b"),
            (p != q).alias("keep"),
        ),
    )
    return (
        spread(df)
        .select(tokens_pd(F.col(text_col)).alias("__toks"))
        .select(F.explode(pairs_arr).alias("__p"))
        .filter(F.col("__p.keep"))
        .select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
    )


def textrank_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_pair_count: int = 3,
    iterations: int = 8,
    damping_pct: int = 85,
) -> DataFrame:
    """Corpus-level TextRank (Mihalcea & Tarau, EMNLP'04): build the
    word co-occurrence graph (adjacent-token pairs on the shared
    normalization, undirected, pruned to pairs seen ≥
    ``min_pair_count`` times) and rank tokens by PageRank over it —
    graph-centrality keyword scoring, the unsupervised sibling of
    tf·idf-style :func:`distinctive_tokens` (a token scores high here
    by sitting in many well-connected contexts, not by raw frequency).

    Composes :func:`~.graphs.pagerank_integer` — EXACT integer
    nano-unit ranks, so the whole pipeline value-hashes across engines
    (the float TextRank everyone ships is partition-order-dependent in
    the last ulps).  The symmetrized graph has no dangling nodes, so
    the rank loop chains three lazy steps per checkpoint.

    Returns (token, rank_nano BIGINT) for every graph node; take the
    top-k downstream (ties deterministic on the integer rank + token).

    Scale shape: one Arrow tokenize pass (adjacent pairs zipped from the
    token array in the same stage — no window, no token-stream sort),
    one vocabulary²-bounded pair count (min_pair_count prunes the long
    tail before the graph); PageRank then iterates over a vocab-sized
    edge list — corpus size only enters the ONE pair-count shuffle."""
    from .graphs import pagerank_integer

    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    adj = _adjacent_token_pairs(df, text_col)
    pairs = adj.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("__n")
    ).filter(F.col("__n") >= int(min_pair_count))
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    return pagerank_integer(
        edges,
        iterations=iterations,
        damping_pct=damping_pct,
    ).select(F.col("node").alias("token"), "rank_nano")
