"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (100 TB / 1000 executors):

- **Exact**: one hash-partitioned shuffle on the content digest; md5 keys
  are uniform so no skew.  ``row_number`` per digest group keeps the
  smallest id (deterministic keeper).
- **Jaccard / MinHash / SimHash pairs**: the classic explode → bucket-join
  shape.  The self-join key (shingle / LSH band bucket / simhash chunk)
  bounds the blow-up; ``max_key_freq`` drops degenerate hot keys (a shingle
  shared by half the corpus produces O(n²) candidates — standard stop-key
  trick), which also removes join skew.
- Everything before the bucket shuffle is a narrow codegen'd projection
  (hashing, signatures); only candidate pairs shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import (
    MINHASH_PERMS,
    MINHASH_PRIME,
    hash32,
    hash60,
    hashed_shingles_pd,
    normalize_text,
    shingles_minhash_pd,
    tokens_pd,
    simhash64_pd,
    word_shingles_pd,
)
from ..caching import materialize_release
from ..partitioning import spread
from ._pairs import drop_hot_keys, hot_keys, same_key_pairs

__all__ = [
    "cdc_near_dup_pairs",
    "dedup_exact",
    "exact_duplicate_groups",
    "content_digests",
    "dedup_exact_against",
    "jaccard_ngram_pairs",
    "jaccard_prefix_pairs",
    "containment_pairs",
    "tfidf_cosine_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_ml",
    "minhash_signatures",
    "minhash_lsh_join",
    "simhash_pairs",
    "embedding_near_dup_pairs",
    "cross_source_overlap",
    "dedup_threshold_curve",
]


def _digest(col: Column, normalize: bool) -> Column:
    return F.md5(normalize_text(col) if normalize else col)


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    digest: Column | None = None,
) -> DataFrame:
    """Keep one row (smallest id) per distinct content digest.

    One shuffle on the digest; deterministic, unlike ``dropDuplicates``
    (which keeps an arbitrary row per key).  Pass ``digest`` to dedup on a
    custom key (e.g. ``token_fingerprint`` for word-order-insensitive)."""
    if digest is None:
        digest = _digest(F.col(text_col), normalize)
    w = Window.partitionBy(digest).orderBy(F.col(id_col))
    return (
        spread(df).withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    digest: Column | None = None,
) -> DataFrame:
    """Digest groups with >1 member: (digest, n_docs, keeper_id)."""
    if digest is None:
        digest = _digest(F.col(text_col), normalize)
    return (
        spread(df).groupBy(digest.alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def content_digests(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """(id, digest) content-digest table — the exact-dedup counterpart of
    :func:`minhash_signatures`: compute per ingestion batch, store with
    the corpus, and screen NEW batches with :func:`dedup_exact_against`
    instead of re-reading 100 TB of history."""
    return spread(df).select(
        F.col(id_col).alias("id"),
        _digest(F.col(text_col), normalize).alias("digest"),
    )


def dedup_exact_against(
    df: DataFrame,
    corpus_digests: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Drop rows of a NEW batch whose content digest already exists in a
    stored corpus digest table (from :func:`content_digests`), then exact-
    dedup the batch against itself (smallest id wins).

    One left-anti join on the 16-byte digest plus the batch-local window;
    the corpus contributes a two-column scan, never its text.  Incremental
    ingestion: history is append-only digest tables, each new batch joins
    against them."""
    digest = _digest(F.col(text_col), normalize)
    fresh = spread(df).withColumn("__digest", digest).join(
        corpus_digests.select(F.col("digest").alias("__digest")),
        "__digest",
        "left_anti",
    )
    w = Window.partitionBy("__digest").orderBy(F.col(id_col))
    return (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__digest")
    )


def jaccard_ngram_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_key_freq: int = 100,
    release: bool = True,
    metrics: Observation | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    shingle-inverted-index self-join: |A∩B| from the join, sizes from a
    narrow pre-agg; J = inter / (|A| + |B| - inter).  Shingles occurring in
    more than ``max_key_freq`` docs are dropped from the join (stop-key
    de-skew) but still count in each doc's size, so a score is exact for
    every pair that shares no stop shingle and otherwise a lower bound
    that never exceeds the true Jaccard — standard at-scale trade,
    disable with ``max_key_freq=0`` or a large value.

    Pass an ``Observation`` as ``metrics`` for exact ``dropped_keys`` /
    ``dropped_entries`` counts (``_pairs.hot_keys``)."""
    sh = (
        spread(df)
        # join/shuffle on a 60-bit hash of the shingle, not the string:
        # 8-byte keys through the self-join (shingles are already distinct
        # per doc, so no re-distinct); the kernel hashes each distinct
        # gram once per batch, so no gram strings cross the UDF boundary
        .select(
            F.col(id_col).alias("id"),
            F.explode(hashed_shingles_pd(F.col(text_col), n)).alias("sh"),
        )
        # the inverted index feeds four consumers (stop-key filter, sizes,
        # both self-join sides); without persist Spark recomputes the
        # tokenize+explode subplan for each
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out = (
        _shingle_overlaps(sh, max_key_freq, metrics)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # pair lists are orders smaller than the exploded shingle index; trade
    # block storage of the output for releasing the index cache
    return materialize_release(out, sh, release=release)


def _shingle_overlaps(
    sh: DataFrame, max_key_freq: int, metrics: Observation | None
) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b) for every doc pair sharing a kept
    shingle of the (id, sh) index: ``inter`` counts the kept shingles they
    share, the sizes count ALL of each doc's shingles, taken before the
    stop-key cap."""
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    kept = drop_hot_keys(sh, ["sh"], max_key_freq or None, metrics)
    return (
        same_key_pairs(kept, ["sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """(id, mh0..mh{num_hashes-1}) MinHash signature table — the durable
    artifact of incremental dedup: compute once per ingestion batch, store
    alongside the corpus, and join NEW batches against it with
    :func:`minhash_lsh_join` instead of re-shingling 100 TB of history.

    Signature via the fused Arrow kernel (one narrow projection — no gram
    explode, no shuffle); bit-identical to the explode → hash-aggregate
    formulation and to the SQL oracle (twin-tested in
    ``tests/test_property_kernels.py``)."""
    return spread(df).select(
        F.col(id_col).alias("id"),
        shingles_minhash_pd(F.col(text_col), n, num_hashes).alias("__sm"),
    ).select(
        "id",
        *[F.col("__sm.sig")[i].alias(f"mh{i}") for i in range(num_hashes)],
    )


def _band_entries(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) LSH band entries from a signature table; bucket
    is the 60-bit hash of the band's row-concatenated minhashes."""
    rows = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        hash60(
                            F.concat_ws(
                                "-", *[F.col(f"mh{i * rows + j}") for j in range(rows)]
                            )
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_join(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    min_est_jaccard: float = 0.0,
    max_key_freq: int = 1000,
) -> DataFrame:
    """Incremental near-dup check: candidate pairs between a NEW batch's
    signatures and an existing corpus signature table (both from
    :func:`minhash_signatures`), with the signature-agreement Jaccard
    estimate.  This is the 100 TB ingestion path — only the new batch is
    shingled; the corpus contributes a stored signature scan, and only
    same-bucket (band-colliding) rows shuffle.

    Returns (id_new, id_corpus, est_jaccard) where ``est_jaccard`` is the
    fraction of agreeing minhashes (unbiased estimator of Jaccard;
    E[mh_a==mh_b] = J).  Hot buckets beyond ``max_key_freq`` on the corpus
    side are anti-joined away, as in :func:`minhash_lsh_pairs`."""
    assert num_hashes % bands == 0
    a = _band_entries(new_sigs, num_hashes, bands).alias("a")
    b = drop_hot_keys(
        _band_entries(corpus_sigs, num_hashes, bands),
        ["band", "bucket"],
        max_key_freq or None,
    ).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.id").alias("id_new"), F.col("b.id").alias("id_corpus"))
        .distinct()
    )
    est = sum(
        F.when(F.col(f"n.mh{i}") == F.col(f"c.mh{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return (
        cand.join(new_sigs.alias("n"), cand["id_new"] == F.col("n.id"))
        .join(corpus_sigs.alias("c"), cand["id_corpus"] == F.col("c.id"))
        .select(
            "id_new",
            "id_corpus",
            F.round(est, 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.0,
    max_key_freq: int = 1000,
    release: bool = True,
    metrics: Observation | None = None,
) -> DataFrame:
    """MinHash + banded-LSH candidate pairs with exact Jaccard verification.

    signature (narrow, per-row) → explode ``bands`` band-buckets →
    self-join on (band, bucket) → distinct candidate pairs → verify with
    exact Jaccard on distinct shingles.  Sub-quadratic: only same-bucket
    pairs shuffle.  ``threshold`` filters on the VERIFIED Jaccard
    (candidate recall is governed by bands/rows: P(candidate) =
    1-(1-J^r)^b).

    Pass an ``Observation`` as ``metrics`` for exact ``dropped_keys`` /
    ``dropped_entries`` counts of the hot (band, bucket) groups
    (``_pairs.hot_keys``)."""
    assert num_hashes % bands == 0
    # ONE fused Arrow crossing yields shingles (for exact verification)
    # AND the minhash signature (no gram explode, no signature shuffle);
    # persisted: band entries + both verify joins consume it
    base = spread(df).select(
        F.col(id_col).alias("id"),
        shingles_minhash_pd(F.col(text_col), n, num_hashes).alias("__sm"),
    ).select(
        "id",
        F.col("__sm.shingles").alias("shingles"),
        F.col("__sm.sig").alias("__sig"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    sig = base.select(
        "id", *[F.col("__sig")[i].alias(f"mh{i}") for i in range(num_hashes)]
    )

    band_entries = drop_hot_keys(
        _band_entries(sig, num_hashes, bands),
        ["band", "bucket"],
        max_key_freq or None,
        metrics,
    )
    cand = same_key_pairs(band_entries, ["band", "bucket"]).distinct()
    sh = base.select("id", "shingles")
    out = (
        cand.join(sh.withColumnsRenamed({"id": "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "shingles": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return materialize_release(out, base, release=release)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    chunks: int = 4,
    max_key_freq: int = 10000,
    release: bool = True,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit simhash (Manku et al., WWW'07 shape),
    candidate generation by matching any of ``chunks`` 16-bit chunks
    (pigeonhole: hamming ≤ chunks-1 guarantees ≥1 exact chunk match),
    verified by ``bit_count(xor)``.

    Scale: each of the 4 chunk tables has 2^16 bucket values, so bucket
    population grows as n/65536 — a billion-doc corpus averages ~15k docs
    per bucket, right at ``max_key_freq``; widen ``chunks``→2 (32-bit
    buckets, hamming ≤ 1 per pigeonhole) or raise the cap for looser
    thresholds.  (The 32-bit/8-bit-chunk v1 saturated: 256 buckets per
    table meant every bucket went hot at ~10M docs and the stop-key cap
    silently dropped all candidates.)"""
    assert 64 % chunks == 0 and chunks >= max_hamming + 1, (
        "pigeonhole needs chunks >= max_hamming+1 and chunks | 64"
    )
    bits_per = 64 // chunks
    mask = (1 << bits_per) - 1
    # SimHash per row via the Arrow-batched pandas kernel (one narrow
    # projection, no token explode/shuffle).  Persisted: the (id, sh)
    # pairs are 16 bytes/row and feed three consumers (hot-bucket agg +
    # both self-join sides) — without persist each consumer re-runs the
    # kernel over the full corpus.
    base = spread(df).select(
        F.col(id_col).alias("id"), simhash64_pd(F.col(text_col)).alias("sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Chunk c = bits [c*bits_per, (c+1)*bits_per).  Arithmetic shift + mask
    # is fill-bit-safe for every c (fill bits land above the mask window),
    # and identical in DuckDB, so negative (bit-63-set) hashes chunk the
    # same way in both engines.
    entries = base.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright(F.col("sh"), bits_per * c)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cc"),
    ).select("id", "sh", "cc.chunk_id", "cc.chunk")
    entries = drop_hot_keys(entries, ["chunk_id", "chunk"], max_key_freq or None)
    out = (
        same_key_pairs(entries, ["chunk_id", "chunk"], carry=["sh"])
        .distinct()
        # LONG, not Spark's INT/DuckDB's TINYINT — canonicalization-stable
        # across engines (the r2 hash-FAIL class was implicit int widths)
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return materialize_release(out, base, release=release)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
    brute_force: bool = False,
    release: bool = True,
) -> DataFrame:
    """Embedding near-duplicates: cosine ≥ threshold pairs.

    Scale path (default): random-hyperplane LSH — ``num_planes`` seeded
    sign bits, banded into ``bands`` buckets; only same-bucket pairs get
    exact cosine verification (Arrow-batched numpy dot).
    ``brute_force=True`` compares all pairs exactly via the blocked-GEMM
    plan (:func:`~.similarity.blocked_cosine_pairs`)."""
    from ..functions.vectors import infer_dim
    from .similarity import _hyperplanes, banded_signature_entries, blocked_cosine_pairs

    if brute_force:
        return blocked_cosine_pairs(
            df, vec_col=vec_col, id_col=id_col, threshold=threshold
        )
    assert num_planes % bands == 0
    dim = infer_dim(df, vec_col)
    planes = _hyperplanes(num_planes, dim)
    # (id, band, bucket) rows persist: both self-join sides consume them,
    # and recomputing means re-running the sign-projection kernel over
    # every vector twice
    entries = banded_signature_entries(
        df, id_col, vec_col, "id", planes, bands
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return _verify_bucket_candidates(
        df, entries, vec_col, id_col, threshold, release
    )


def _verify_bucket_candidates(
    df: DataFrame,
    entries: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    release: bool,
) -> DataFrame:
    """Shared verify stage for hyperplane-bucketed pair generation:
    same-(band, bucket) candidates with id_a < id_b, exact cosine via one
    Arrow kernel, 6dp rounding, threshold filter.  ``entries`` must
    already be persisted (both self-join sides consume it).  One kernel
    computes each candidate's cosine, norms included, so no kernel runs
    over the vectors on each join side; it is marked nondeterministic so
    the optimizer cannot copy it into the threshold filter it would
    otherwise push below the projection."""
    from ..functions.vectors import _cosine_kernel

    cand = same_key_pairs(entries, ["band", "bucket"]).distinct()
    vecs = spread(df).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    cand = cand.join(
        vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a")), "id_a"
    ).join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b")), "id_b")
    cosine = _cosine_kernel().asNondeterministic()("v_a", "v_b")
    out = (
        cand.select("id_a", "id_b", F.round(cosine, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
    return materialize_release(out, entries, release=release)


def embedding_near_dup_pairs_frozen(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
    quant_unit: int = 10**6,
    release: bool = True,
) -> DataFrame:
    """Value-hash-oracle tier of :func:`embedding_near_dup_pairs` (the
    E106b freezing discipline applied to E6): hyperplane sign bits are
    computed over FLOOR-QUANTIZED integer components against INTEGER md5
    plane coefficients, so bucket membership is exact integer arithmetic
    a SQL twin replays bit-for-bit — the float tier's last-ulp sign
    flips at the hyperplane boundary (why E6 is rows-only) cannot
    happen.  Candidate generation and the exact-cosine verify are the
    same plan as the float tier; recall differs only where a float sign
    bit sat within one quantization step of the boundary.

    int64 preflight: requires ``dim · max|floor(v·quant_unit)| ·
    max|coeff| < 2^63`` (coefficients are < 2^32) and tells you the max
    safe ``quant_unit`` otherwise."""
    from ..functions.vectors import infer_dim
    from .similarity import (
        _hyperplanes_int,
        banded_signature_entries_int,
        check_frozen_headroom,
        max_abs_component,
    )

    if num_planes % bands != 0:
        raise ValueError("num_planes must be a multiple of bands")
    if quant_unit < 1:
        raise ValueError("quant_unit must be >= 1")
    dim = infer_dim(df, vec_col)
    check_frozen_headroom(
        max_abs_component(spread(df), vec_col), dim, quant_unit
    )
    planes = _hyperplanes_int(num_planes, dim)
    entries = banded_signature_entries_int(
        df, id_col, vec_col, "id", planes, bands, quant_unit
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return _verify_bucket_candidates(
        df, entries, vec_col, id_col, threshold, release
    )


def minhash_lsh_pairs_ml(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hash_tables: int = 8,
    max_jaccard_distance: float = 0.5,
    seed: int = 42,
    num_features: int = 1 << 20,
    release: bool = True,
) -> DataFrame:
    """Alternative engine path: ``pyspark.ml.feature`` MinHashLSH +
    ``approxSimilarityJoin`` over hash-featurized shingle vectors.

    Same contract as :func:`minhash_lsh_pairs` (id_a < id_b, exact verified
    jaccard) but candidate generation rides Spark ML's OR-amplified LSH.
    Shingles are featurized with ``HashingTF(binary=True)`` — vocab-free,
    so no driver-side vocabulary is ever materialized (a
    ``CountVectorizer.fit`` would collect billions of terms at corpus
    scale); hash collisions in the 2^20 feature space only perturb
    CANDIDATE generation, the emitted jaccard is exact on the shingle
    arrays.  Results are seed/partitioning dependent (rows-only check);
    prefer :func:`minhash_lsh_pairs` when cross-engine reproducibility
    matters."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    base = spread(df).select(
        F.col(id_col).alias("id"),
        word_shingles_pd(F.col(text_col), n).alias("shingles"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tf = HashingTF(
        inputCol="shingles", outputCol="__features",
        binary=True, numFeatures=num_features,
    )
    feats = tf.transform(base).filter(
        # MinHashLSH requires at least one non-zero entry
        F.size("shingles") > 0
    )
    lsh = MinHashLSH(
        inputCol="__features", outputCol="__hashes",
        numHashTables=num_hash_tables, seed=seed,
    ).fit(feats)
    joined = lsh.approxSimilarityJoin(
        feats, feats, max_jaccard_distance, distCol="__dist"
    )
    out = (
        joined.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(
                F.size(F.array_intersect("datasetA.shingles", "datasetB.shingles")).cast("double")
                / F.size(F.array_union("datasetA.shingles", "datasetB.shingles")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return materialize_release(out, base, release=release)


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    normalize: bool = True,
    digest: Column | None = None,
) -> DataFrame:
    """Cross-slice duplication matrix: for every pair of corpus slices
    (sources, crawls, snapshots), how much exact-duplicate content they
    share - the provenance audit run before mixing corpora (double-counted
    content silently over-weights itself at training time).

    Output: (source_a, source_b, n_shared, n_a, n_b, jaccard_ppm), one row
    per unordered slice pair that shares at least one digest, with
    ``source_a < source_b`` lexicographically.  ``n_a``/``n_b`` are each
    slice's distinct-content counts and ``jaccard_ppm = 1e6*n_shared //
    (n_a + n_b - n_shared)`` - exact integer division, BIGINT everywhere.

    Plan: rows reduce to DISTINCT (digest, slice) pairs - 16-byte keys,
    never text - before the digest self-join; distinct slices per digest
    is tiny (bounded by the slice count), so the join fans out per shared
    digest, not per row.  Slice totals are a second aggregate over the
    same distinct table, broadcast back onto the (small) pair matrix.

    Pass ``digest`` for a custom content key (e.g.
    :func:`~..functions.token_fingerprint` for word-order-insensitive
    overlap — the right key when slices hold near-identical boilerplate
    with shuffled phrasing)."""
    if digest is None:
        digest = _digest(F.col(text_col), normalize)
    # three consumers (both self-join sides + the totals aggregate) read
    # the distinct table: persist it so the digest kernel and the distinct
    # shuffle run once, and release it once the tiny matrix materializes
    pairs = (
        spread(df)
        .select(digest.alias("digest"), F.col(group_col).alias("g"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = pairs.alias("a"), pairs.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.digest") == F.col("b.digest"))
            & (F.col("a.g") < F.col("b.g")),
        )
        .groupBy(F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    totals = pairs.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    out = (
        shared.join(
            F.broadcast(
                totals.select(F.col("g").alias("source_a"), F.col("n").alias("n_a"))
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                totals.select(F.col("g").alias("source_b"), F.col("n").alias("n_b"))
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("(1000000 * n_shared) DIV (n_a + n_b - n_shared)").alias(
                "jaccard_ppm"
            ),
        )
    )
    return materialize_release(out, pairs)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_key_freq: int = 100,
    release: bool = True,
    metrics: Observation | None = None,
) -> DataFrame:
    """DIRECTED exact n-gram containment pairs: ``containment(A in B) =
    |A∩B| / |A|`` ≥ threshold.  The asymmetric twin of
    :func:`jaccard_ngram_pairs` — a short document quoted wholesale
    inside a long one has near-1 containment but tiny symmetric Jaccard
    (the union is dominated by the long doc), so subset/quotation
    duplicates are exactly the pairs the Jaccard tier structurally
    misses (Broder 1997 defines both resemblance AND containment for
    this reason).

    Output (id_sub, id_super, containment): the id_sub document's
    shingles are ≥ threshold contained in id_super's.  Both directions
    of a pair are tested; near-identical docs emit two rows.

    Scale shape: identical to the Jaccard tier — one shingle-hash
    inverted index (computed once, persisted, released on return), the
    same stop-key cap and size rule (a score never exceeds the true
    containment), intersections counted once per UNORDERED pair then
    fanned to the two directed tests.  Only 8-byte hashes shuffle.

    Pass an ``Observation`` as ``metrics`` for exact ``dropped_keys`` /
    ``dropped_entries`` counts (``_pairs.hot_keys``)."""
    sh = (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(hashed_shingles_pd(F.col(text_col), n)).alias("sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # consumed TWICE by the directed union below: without persist the
    # Σf² bucket join + both size joins execute once per branch
    inter = _shingle_overlaps(sh, max_key_freq, metrics).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    directed = inter.select(
        F.col("id_a").alias("id_sub"),
        F.col("id_b").alias("id_super"),
        (F.col("inter").cast("double") / F.col("sz_a").cast("double")).alias(
            "containment"
        ),
    ).unionAll(
        inter.select(
            F.col("id_b").alias("id_sub"),
            F.col("id_a").alias("id_super"),
            (F.col("inter").cast("double") / F.col("sz_b").cast("double")).alias(
                "containment"
            ),
        )
    )
    out = directed.filter(F.col("containment") >= threshold)
    return materialize_release(out, sh, inter, release=release)


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.3,
    tf_cap: int = 10,
    max_key_freq: int = 100,
    release: bool = True,
    metrics: Observation | None = None,
) -> DataFrame:
    """WEIGHTED document-similarity pairs: cosine over integer tf·idf
    term vectors ≥ threshold.  Completes the lexical-similarity family —
    Jaccard/containment are SET-based (a term counts once), this tier
    weighs repeated terms and down-weighs corpus-common ones, which is
    what actually separates near-duplicate articles from
    boilerplate-sharing ones.

    Term weight = ``LEAST(tf, tf_cap) * (N div df)`` — the
    ``keyword_search`` integer-idf discipline, so dot products and
    squared norms are EXACT BIGINT sums; the only float op is the final
    ``dot / sqrt(na2·nb2)`` (IEEE sqrt+divide are correctly rounded, so
    both engines agree bit-for-bit, rounded to 6dp for belt-and-braces).

    Output (id_a, id_b, cosine) with id_a < id_b.

    Scale shape: the same inverted-index self-join as the Jaccard tier —
    only (term-hash, id, weight) triples shuffle; the stop-key cap
    de-skews corpus-common terms (which near-zero idf would contribute
    ~nothing anyway); squared norms come from a narrow pre-aggregate over
    the same persisted index.

    Pass an ``Observation`` as ``metrics`` for exact ``dropped_keys`` /
    ``dropped_entries`` counts (``_pairs.hot_keys``)."""
    sh0 = (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(
                F.filter(tokens_pd(F.col(text_col)), lambda t: t != F.lit(""))
            ).alias("t"),
        )
        .select("id", hash60(F.col("t")).alias("sh"))
        .groupBy("id", "sh")
        .agg(F.least(F.count(F.lit(1)), F.lit(tf_cap)).cast("long").alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = sh0.agg(
        F.countDistinct("id").cast("long").alias("__n")
    )
    dfreq = sh0.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # idf needs each kept term's df: one inner join on the kept keys both
    # caps the index and carries df, where the shared anti-join would
    # add a second join to the plan
    if hot_keys(sh0, ["sh"], max_key_freq or None, metrics) is not None:
        dfreq = dfreq.filter(F.col("df") <= max_key_freq)
    sh = (
        sh0.join(dfreq, "sh")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "sh",
            (F.col("tf") * F.expr("__n div df")).cast("long").alias("w"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    norms = sh.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    dots = (
        same_key_pairs(sh, ["sh"], carry=["w"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )
    out = (
        dots.join(norms.withColumnsRenamed({"id": "id_a", "n2": "na2"}), "id_a")
        .join(norms.withColumnsRenamed({"id": "id_b", "n2": "nb2"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na2").cast("double") * F.col("nb2").cast("double")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return materialize_release(out, sh0, sh, release=release)


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    release: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs ≥ threshold via **prefix filtering**
    (Bayardo, Ma & Srikant, WWW'07 all-pairs; the PPJoin candidate
    scheme) — same output contract as :func:`jaccard_ngram_pairs`, but
    with NO stop-key cap: completeness needs no de-skew trade because
    only PREFIX tokens are indexed.

    Order every doc's shingles rarest-first (global (freq, hash) order);
    with set size s and threshold t, any pair with J ≥ t must share a
    token inside both docs' first ``s - ceil(t·s) + 1`` shingles (if the
    prefixes were disjoint, the intersection ⊆ both suffixes would be
    < ceil(t·s) on each side, contradicting i ≥ t·max(|A|,|B|) which
    J ≥ t implies).  So the self-join runs over the prefix slivers only
    — on Zipfian text the hot head tokens land in almost no prefixes
    (rare-first order), which is exactly the skew the stop-key cap
    existed to kill, here without losing exactness.

    Candidates then pass the length filter (min ≥ t·max) and an exact
    array-intersect verify against the full shingle sets.

    Plan: one shingle pass persisted and shared by freq / sizes / prefix
    / verify-set consumers (released on return); per-doc prefix rank is
    a PER-DOC window (no global rank); the join shuffles only prefix
    postings; verification joins the (small) candidate pair list against
    per-doc shingle arrays and intersects in codegen."""
    out, intermediates = _prefix_pairs(df, text_col, id_col, n, threshold)
    return materialize_release(out, *intermediates, release=release)


def _prefix_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int, threshold: float
) -> tuple[DataFrame, tuple[DataFrame, ...]]:
    """The lazy plan of :func:`jaccard_prefix_pairs` and the persisted
    intermediates the caller releases once it has materialized its own
    result."""
    sh = (
        spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode(hashed_shingles_pd(F.col(text_col), n)).alias("sh"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__f"))
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy("id").orderBy(F.asc("__f"), F.asc("sh"))
    # BOTH self-join arms alias this frame: persisted so the freq join +
    # per-doc rank window run once, not once per arm (the r7 ED-Join
    # prefix-table class)
    prefix = (
        sh.join(freq, "sh")
        .withColumn("__pos", F.row_number().over(w))
        .join(sizes, "id")
        .filter(
            F.col("__pos")
            <= F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
        )
        .select("id", "sh", "sz")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cand = (
        same_key_pairs(prefix, ["sh"], carry=["sz"])
        # length filter BEFORE the dedup shuffle: J >= t forces
        # min >= t * max
        .filter(
            F.least("sz_a", "sz_b").cast("double")
            >= F.lit(float(threshold)) * F.greatest("sz_a", "sz_b").cast("double")
        )
        .distinct()
    )
    # verify-set table feeds both candidate-side joins: persisted so the
    # per-doc collect_list aggregation runs once, not once per side
    sets = (
        sh.groupBy("id")
        .agg(F.collect_list("sh").alias("arr"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out = (
        cand.join(sets.withColumnsRenamed({"id": "id_a", "arr": "arr_a"}), "id_a")
        .join(sets.withColumnsRenamed({"id": "id_b", "arr": "arr_b"}), "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out, (sh, prefix, sets)


def dedup_threshold_curve(
    df: DataFrame,
    thresholds_ppm: Sequence[int] = (500000, 600000, 700000, 800000, 900000),
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Threshold-tuning curve for near-dup dedup: for each candidate
    Jaccard threshold, how many EXACT pairs and how many distinct
    documents a pass at that threshold would touch — the evidence table
    for choosing E3/E4/E144's ``threshold`` before a 100 TB run (a
    threshold picked blind either misses boilerplate or nukes
    legitimate reuse; this shows the knee).

    Pairs come from ONE :func:`jaccard_prefix_pairs` pass at
    ``min(thresholds)`` (exact, no stop-key cap), then every threshold
    is a filter over that bounded pair list — the corpus is scanned
    once, the curve costs pairs·|thresholds| comparisons.  The
    jaccard ratio is an IEEE quotient of exact BIGINTs (identical in
    both engines), so the per-threshold counts are engine-exact.

    Returns one row per threshold: (threshold_ppm, n_pairs, n_docs) —
    zeros (not missing rows) where nothing clears the bar.
    """
    if not thresholds_ppm:
        raise ValueError("thresholds_ppm must be non-empty")
    if any(not (0 < t <= 1000000) for t in thresholds_ppm):
        raise ValueError("thresholds must be ppm values in (0, 1e6]")
    spark = df.sparkSession
    lo = min(thresholds_ppm) / 1e6
    pairs, intermediates = _prefix_pairs(df, text_col, id_col, n, lo)
    th = F.broadcast(
        spark.createDataFrame(
            [(int(t),) for t in sorted(set(thresholds_ppm))],
            "threshold_ppm long",
        )
    )
    matched = pairs.join(
        th,
        F.col("jaccard")
        >= F.col("threshold_ppm").cast("double") / F.lit(1e6),
    ).persist()
    n_pairs = matched.groupBy("threshold_ppm").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    n_docs = (
        matched.select("threshold_ppm", F.col("id_a").alias("id"))
        .unionAll(matched.select("threshold_ppm", F.col("id_b").alias("id")))
        .distinct()
        .groupBy("threshold_ppm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    out = (
        th.join(n_pairs, "threshold_ppm", "left")
        .join(n_docs, "threshold_ppm", "left")
        .select(
            "threshold_ppm",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
    )
    return materialize_release(out, matched, *intermediates)


def cdc_near_dup_pairs(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    divisor: int = 8,
    max_tokens: int = 256,
    min_shared: int = 2,
    max_chunk_df: int = 8,
):
    """Near-duplicate pairs by SHARED content-defined chunks: the dedup
    tier E274's chunking exists for — two documents sharing >=
    ``min_shared`` distinct chunk md5s pair up with exact containment
    shares: ``(id_a, id_b, n_shared, containment_a_ppm,
    containment_b_ppm)`` where containment_x = shared·10^6 div
    n_chunks_x.  Because CDC boundaries re-align after edits, a mirror
    with a new header/footer still shares almost all interior chunks —
    the case shingle-window MinHash needs many bands to catch and
    fixed-window chunking misses entirely.

    Scale discipline (same as the shingle operators): chunk hashes in
    more than ``max_chunk_df`` documents are BOILERPLATE (template
    chrome — E238's job) and are dropped before the self-join, bounding
    the hot-key blowup; the distinct (id, chunk) table is persisted
    because BOTH self-join arms alias it.  One chunk-keyed shuffle for
    the join, one id-pair aggregate."""
    from .cleaning import chunk_content_defined

    chunks = chunk_content_defined(
        df,
        text_col=text_col,
        id_col=id_col,
        window=window,
        divisor=divisor,
        max_tokens=max_tokens,
    ).select(F.col(id_col).alias("__id"), "chunk_md5")
    d = chunks.distinct().persist()
    per_doc = d.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    keep = drop_hot_keys(d, ["chunk_md5"], max_chunk_df).persist()
    pairs = (
        same_key_pairs(keep, ["chunk_md5"], "__id")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= int(min_shared))
    )
    out = (
        pairs.join(per_doc.withColumnsRenamed({"__id": "id_a", "__n": "__na"}), "id_a")
        .join(per_doc.withColumnsRenamed({"__id": "id_b", "__n": "__nb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.expr("n_shared * 1000000L div __na").alias("containment_a_ppm"),
            F.expr("n_shared * 1000000L div __nb").alias("containment_b_ppm"),
        )
    )
    return materialize_release(out, d, keep)
