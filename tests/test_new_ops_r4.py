"""Round-4 additions: native PNG decode tier (zlib inflate + scanline
unfiltering), its Spark plumbing and format boundaries, and dropped-work
metrics for capped operators ("no silent caps")."""

import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import Observation

from sparkplug_spark.operators.multimodal import (
    _native_pixels,
    _png_pixels,
    encode_png_rgb8,
)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _encode_png_any(arr, color, filters=None, plte=None) -> bytes:
    """Full-surface PNG encoder for tests: any color type / filter mix;
    ``arr`` is (h, w, ch) uint8 (palette indices for color type 3)."""
    h, w, ch = arr.shape
    filters = list(filters) if filters else [0]
    raw = bytearray()
    prev = np.zeros(w * ch, np.int32)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(np.int32)
        f = filters[y % len(filters)]
        line = np.zeros(w * ch, np.int32)
        for x in range(w * ch):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(f)
        raw += bytes(line.astype(np.uint8))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte.tobytes())
    out += _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")
    return out


class TestPngDecode:
    @pytest.mark.parametrize("filters", [[0], [1], [2], [3], [4], [0, 1, 2, 3, 4]])
    def test_rgb_roundtrip_every_filter(self, filters):
        rng = np.random.default_rng(42)
        a = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
        dec = _png_pixels(_encode_png_any(a, 2, filters))
        exp = a.astype(np.float64).mean(axis=2) / 255.0
        assert np.allclose(dec, exp)

    def test_gray_and_gray_alpha(self):
        rng = np.random.default_rng(1)
        g = rng.integers(0, 256, (4, 6, 1), dtype=np.uint8)
        assert np.allclose(
            _png_pixels(_encode_png_any(g, 0, [0, 1, 2, 3, 4])), g[:, :, 0] / 255.0
        )
        ga = rng.integers(0, 256, (3, 3, 2), dtype=np.uint8)
        # alpha channel must be ignored in the grayscale contract
        assert np.allclose(
            _png_pixels(_encode_png_any(ga, 4, [2, 4])), ga[:, :, 0] / 255.0
        )

    def test_rgba_alpha_ignored(self):
        rng = np.random.default_rng(2)
        a = rng.integers(0, 256, (5, 4, 4), dtype=np.uint8)
        exp = a[:, :, :3].astype(np.float64).mean(axis=2) / 255.0
        assert np.allclose(_png_pixels(_encode_png_any(a, 6, [4, 3, 2, 1, 0])), exp)

    def test_palette_expansion(self):
        rng = np.random.default_rng(3)
        plte = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, (4, 4, 1), dtype=np.uint8)
        exp = plte[idx[:, :, 0]].astype(np.float64).mean(axis=2) / 255.0
        assert np.allclose(_png_pixels(_encode_png_any(idx, 3, [0, 1, 4], plte)), exp)

    def test_multi_idat_chunks(self):
        # encoders may split the deflate stream across several IDATs;
        # the decoder must concatenate before inflating
        a = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
        png = _encode_png_any(a, 2, [0])
        # split the single IDAT into two
        i = png.index(b"IDAT") - 4
        (clen,) = struct.unpack_from(">I", png, i)
        body = png[i + 8 : i + 8 + clen]
        head, tail = png[:i], png[i + 12 + clen :]
        split = head + _chunk(b"IDAT", body[:5]) + _chunk(b"IDAT", body[5:]) + tail
        assert np.allclose(_png_pixels(split), _png_pixels(png))

    def test_helper_encoder_matches_reference_encoder(self):
        a = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
        assert np.allclose(
            _png_pixels(encode_png_rgb8(a, filters=[0, 4])),
            _png_pixels(_encode_png_any(a, 2, [0, 4])),
        )

    def test_boundaries_raise_not_implemented(self):
        a = np.zeros((2, 2, 3), dtype=np.uint8)
        ok = _encode_png_any(a, 2, [0])
        # interlaced
        ih = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
        bad = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ih)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 14))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match="Adam7"):
            _png_pixels(bad)
        # 16-bit
        ih = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
        bad = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ih)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match="bit depth 8"):
            _png_pixels(bad)
        # truncated raster (IHDR claims more rows than the stream holds)
        ih = struct.pack(">IIBBBBB", 2, 4, 8, 2, 0, 0, 0)
        bad = (
            b"\x89PNG\r\n\x1a\n"
            + _chunk(b"IHDR", ih)
            + _chunk(b"IDAT", zlib.compress(b"\x00" * 7))
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(NotImplementedError, match="shorter"):
            _png_pixels(bad)
        # corrupt deflate stream
        i = ok.index(b"IDAT") - 4
        (clen,) = struct.unpack_from(">I", ok, i)
        corrupt = (
            ok[: i + 8]
            + bytes([b ^ 0xFF for b in ok[i + 8 : i + 8 + clen]])
            + ok[i + 8 + clen :]
        )
        with pytest.raises(NotImplementedError):
            _png_pixels(corrupt)
        # PROGRESSIVE JPEG stays outside the native tier (baseline is in)
        prog = b"\xff\xd8" + struct.pack(">BBH", 0xFF, 0xC2, 10) + b"\x00" * 8
        with pytest.raises(NotImplementedError, match="Pillow"):
            _native_pixels(prog)
        # WebP stays outside entirely
        with pytest.raises(NotImplementedError, match="Pillow"):
            _native_pixels(b"RIFF\x24\x00\x00\x00WEBPVP8 " + b"\x00" * 16)

    def test_png_decode_through_spark(self, spark):
        from sparkplug_spark.operators.multimodal import decode_image_features

        # 2x2 uniform-channel image: gray level is exact per pixel
        arr = np.array(
            [[[10] * 3, [20] * 3], [[30] * 3, [40] * 3]], dtype=np.uint8
        )
        png = encode_png_rgb8(arr, filters=[0, 4])
        df = spark.createDataFrame([(1, png)], "id long, payload binary")
        feats = decode_image_features(df, feature_dim=4, decoder="native").collect()[
            0
        ]["features"]
        assert [round(f * 255.0) for f in feats] == [10, 20, 30, 40]


class TestDroppedWorkMetrics:
    """Capped operators must report exactly what their scale guards drop
    (the repo's "no silent caps" rule).  The metrics query is dedicated
    (not an observe node in the operator plan) so AQE's empty-relation
    pruning can't swallow it — worst case for an in-plan node is an
    all-dropped/empty result yielding NO metrics at all."""

    def test_blocked_link_reports_dropped_blocks(self, spark):
        from sparkplug_spark.operators.joins import blocked_link

        rows = [(i, f"name{i}", "X") for i in range(5)] + [
            (10, "alice", "Y"),
            (11, "alicx", "Y"),
            (20, "bob", "Z"),
        ]
        df = spark.createDataFrame(rows, "id long, name string, blk string")
        obs = Observation()
        out = blocked_link(
            df, "id", "name", ["blk"], max_distance=2, max_block_size=3,
            metrics=obs,
        )
        assert sorted((r.id_a, r.id_b) for r in out.collect()) == [(10, 11)]
        # block X (5 rows) exceeded the cap; metrics exact, no action needed
        assert obs.get == {"dropped_blocks": 1, "dropped_rows": 5}

    def test_blocked_link_zero_drops_reports_zero(self, spark):
        from sparkplug_spark.operators.joins import blocked_link

        df = spark.createDataFrame(
            [(1, "ann", "Y"), (2, "ana", "Y")], "id long, name string, blk string"
        )
        obs = Observation()
        blocked_link(df, "id", "name", ["blk"], max_block_size=10, metrics=obs)
        assert obs.get == {"dropped_blocks": 0, "dropped_rows": 0}

    def test_jaccard_reports_dropped_stop_keys(self, spark):
        from sparkplug_spark.operators.dedup import jaccard_ngram_pairs

        # every doc shares the long common prefix -> its shingles are hot
        docs = [(i, "the quick brown fox " + str(i)) for i in range(8)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        obs = Observation()
        jaccard_ngram_pairs(df, n=3, threshold=0.1, max_key_freq=4, metrics=obs)
        got = obs.get
        assert got["dropped_keys"] > 0
        # a hot key appears in >4 docs, so each dropped key covers >4 postings
        assert got["dropped_entries"] > 4 * got["dropped_keys"] - 1

    def test_minhash_reports_dropped_hot_buckets(self, spark):
        from sparkplug_spark.operators.dedup import minhash_lsh_pairs

        docs = [(i, "the quick brown fox jumps over it") for i in range(6)] + [
            (100, "completely different text here")
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        obs = Observation()
        minhash_lsh_pairs(
            df, n=3, num_hashes=16, bands=8, max_key_freq=2, metrics=obs
        )
        got = obs.get
        # 6 identical docs share every band bucket: 8 hot buckets x 6 entries
        assert got["dropped_keys"] == 8
        assert got["dropped_entries"] == 48

    def test_metrics_requires_active_cap(self, spark):
        from sparkplug_spark.operators.dedup import (
            jaccard_ngram_pairs,
            minhash_lsh_pairs,
        )

        df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        with pytest.raises(ValueError, match="max_key_freq"):
            jaccard_ngram_pairs(df, max_key_freq=0, metrics=Observation())
        with pytest.raises(ValueError, match="max_key_freq"):
            minhash_lsh_pairs(df, max_key_freq=0, metrics=Observation())


class TestPagerankCadenceAndTol:
    """Round-4 pagerank restructure: dangling mass rides the checkpoint
    action as an observe metric (driver-side scalar, no per-iteration
    broadcast-agg), dangling-free graphs chain iterations between
    checkpoints, and ``tol`` gives convergence early exit."""

    def _edges(self, spark):
        # symmetric triangle + pendant: no dangling nodes
        e = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (3, 4), (4, 3)]
        return spark.createDataFrame(e, "src long, dst long")

    def test_cadence_invariance(self, spark, monkeypatch):
        from sparkplug_spark.operators import graphs

        e = self._edges(spark)

        def run(every):
            monkeypatch.setattr(graphs, "_RANK_CHECKPOINT_EVERY", every)
            return {
                r.node: r.rank
                for r in graphs.pagerank(e, iterations=6).collect()
            }

        r1, r3 = run(1), run(3)
        assert set(r1) == set(r3)
        for n in r1:
            assert abs(r1[n] - r3[n]) < 1e-12

    def test_dangling_graph_still_conserves_mass(self, spark):
        from sparkplug_spark.operators.graphs import pagerank

        # node 3 has no out-edges: its mass redistributes each step
        e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
        ranks = pagerank(e, iterations=5).collect()
        assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-9

    def test_tol_early_exit_matches_one_iteration(self, spark, monkeypatch):
        from sparkplug_spark.operators import graphs
        from sparkplug_spark.operators.graphs import pagerank

        e = self._edges(spark)
        # huge tol: the first checkpoint's L1 is already below it, so the
        # result must equal exactly one checkpoint's worth of iterations
        monkeypatch.setattr(graphs, "_RANK_CHECKPOINT_EVERY", 1)
        early = {
            r.node: r.rank
            for r in pagerank(e, iterations=8, tol=10.0).collect()
        }
        one = {
            r.node: r.rank for r in pagerank(e, iterations=1).collect()
        }
        for n in early:
            assert abs(early[n] - one[n]) < 1e-12

    def test_empty_graph_returns_empty(self, spark):
        from sparkplug_spark.operators.graphs import pagerank

        e = spark.createDataFrame([], "src long, dst long")
        assert pagerank(e, iterations=3).count() == 0


class TestReplayFileStream:
    """Deterministic stream replay harness: file-per-batch with pinned
    mtimes -> one micro-batch per file under availableNow."""

    def test_batch_order_and_state_across_batches(self, spark):
        import glob

        from pyspark.sql import functions as F
        from sparkplug_spark.streaming import streaming_dedup_exact
        from sparkplug_spark.streaming.replay import replay_file_stream

        import os as _os

        # pid-scoped glob: other test PROCESSES replay concurrently in
        # parallel suite runs; only THIS process's scratch is ours
        _pat = f"/tmp/sparkplug_replay_{_os.getpid()}_*"
        before = set(glob.glob(_pat))
        mk = lambda rows: spark.createDataFrame(rows, "id long, text string, ts timestamp")
        import datetime as dt

        t = lambda m: dt.datetime(2024, 1, 1, 0, m)
        batches = [
            mk([(1, "aaa", t(0)), (2, "bbb", t(1))]),
            mk([(3, "aaa", t(2)), (4, "ccc", t(3))]),   # 3 is a dup of 1
            mk([(5, "bbb", t(4)), (6, "ddd", t(5))]),   # 5 is a dup of 2
        ]
        kept = replay_file_stream(
            spark,
            batches,
            lambda s: streaming_dedup_exact(
                s, text_col="text", time_col="ts", watermark_delay="1 hour"
            ),
            mode="append",
        )
        assert sorted(r.id for r in kept.collect()) == [1, 2, 4, 6]
        # scratch space fully removed even though the result is still live
        assert set(glob.glob(_pat)) == before

    def test_complete_mode_matches_batch_aggregate(self, spark):
        from pyspark.sql import functions as F
        from sparkplug_spark.streaming.replay import replay_file_stream

        import datetime as dt

        rows = [(i, f"k{i % 3}", dt.datetime(2024, 1, 1 + i % 2)) for i in range(20)]
        df = spark.createDataFrame(rows, "id long, k string, ts timestamp")
        batches = [df.filter(F.col("id") < 10), df.filter(F.col("id") >= 10)]

        def build(s):
            return (
                s.withWatermark("ts", "10 days")
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        got = {(r.k, r.n) for r in replay_file_stream(spark, batches, build, mode="complete").collect()}
        want = {
            (r.k, r.n)
            for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got == want

    def test_validation(self, spark):
        from sparkplug_spark.streaming.replay import replay_file_stream

        with pytest.raises(ValueError, match="at least one"):
            replay_file_stream(spark, [], lambda s: s)
        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="mode"):
            replay_file_stream(spark, [df], lambda s: s, mode="update")


class TestEventOperatorSkew:
    """Seeded 30%-mass hot user across the event-operator family.

    The per-user window operators (sessionize / funnel / paths) hash-
    partition on user_id; a hot key's rows MUST stay in one partition for
    ordered-window semantics, so no salt or AQE split can apply without
    changing the operator — the documented behavior is per-key isolation:
    results for every user are identical whether the hot user is present
    or not, and the hot partition is a straggler, never a wrong answer.
    Where the shuffle IS a join, AQE's skew-join applies — pinned below
    with thresholds scaled to test data."""

    @pytest.fixture()
    def skewed_events(self, spark):
        import datetime as dt

        from pyspark.sql import functions as F

        base = dt.datetime(2024, 1, 1)
        rows = []
        # hot user 7: 3000 events (30%), bursty (sessions via 1h gaps)
        for i in range(3000):
            rows.append(
                (i, 7, base + dt.timedelta(minutes=(i // 10) * 90, seconds=i % 600),
                 ["view", "click", "purchase"][i % 3])
            )
        # 100 cold users: 70 events each
        for u in range(100):
            for j in range(70):
                rows.append(
                    (100_000 + u * 100 + j, 100 + u,
                     base + dt.timedelta(minutes=j * 13),
                     ["view", "click", "purchase", "signup"][j % 4])
                )
        return spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string"
        ).repartition(8)

    def test_sessionize_per_key_isolation(self, spark, skewed_events):
        from pyspark.sql import functions as F
        from sparkplug_spark.operators import sessionize

        full = sessionize(skewed_events, gap_seconds=3600)
        hot_in_full = {
            tuple(r)
            for r in full.filter(F.col("user_id") == 7).collect()
        }
        hot_alone = {
            tuple(r)
            for r in sessionize(
                skewed_events.filter(F.col("user_id") == 7), gap_seconds=3600
            ).collect()
        }
        assert hot_in_full == hot_alone and len(hot_alone) > 1
        # a cold user's sessions are untouched by the hot key's presence
        cold_in_full = {
            tuple(r) for r in full.filter(F.col("user_id") == 150).collect()
        }
        cold_alone = {
            tuple(r)
            for r in sessionize(
                skewed_events.filter(F.col("user_id") == 150), gap_seconds=3600
            ).collect()
        }
        assert cold_in_full == cold_alone

    def test_funnel_counts_additive_over_user_split(self, spark, skewed_events):
        from pyspark.sql import functions as F
        from sparkplug_spark.operators import funnel_counts

        steps = ("view", "click", "purchase")
        full = {
            r.step: r.n_users
            for r in funnel_counts(skewed_events, steps).collect()
        }
        hot = {
            r.step: r.n_users
            for r in funnel_counts(
                skewed_events.filter(F.col("user_id") == 7), steps
            ).collect()
        }
        cold = {
            r.step: r.n_users
            for r in funnel_counts(
                skewed_events.filter(F.col("user_id") != 7), steps
            ).collect()
        }
        for s in full:
            assert full[s] == hot.get(s, 0) + cold.get(s, 0)
        assert hot["view"] == 1  # the hot user counts once, not 3000 times

    def test_session_paths_additive_over_user_split(self, spark, skewed_events):
        from pyspark.sql import functions as F
        from sparkplug_spark.operators import session_paths

        full = {
            r.path: r.n_sessions
            for r in session_paths(
                skewed_events, gap_seconds=3600, min_sessions=1
            ).collect()
        }
        hot = {
            r.path: r.n_sessions
            for r in session_paths(
                skewed_events.filter(F.col("user_id") == 7),
                gap_seconds=3600,
                min_sessions=1,
            ).collect()
        }
        cold = {
            r.path: r.n_sessions
            for r in session_paths(
                skewed_events.filter(F.col("user_id") != 7),
                gap_seconds=3600,
                min_sessions=1,
            ).collect()
        }
        for p, n in full.items():
            assert n == hot.get(p, 0) + cold.get(p, 0), p

    def test_aqe_splits_skewed_event_join(self, spark):
        """Where the user-key shuffle is a JOIN (enriching events with a
        per-user dim), AQE's skew-join must split the hot partition:
        skew=true in the EXECUTED plan, results unchanged.

        Recipe notes (each was a real false-negative while building this):
        the payload must be incompressible (skew detection reads
        compressed shuffle sizes — a repeated-char payload deflates the
        hot partition below every threshold), and the plan must be read
        from the SAME DataFrame after collect() (count() executes a
        different query, leaving this one's adaptive plan non-final)."""
        from pyspark.sql import functions as F

        pay = F.concat(
            *[
                F.sha2(F.concat(F.col("id").cast("string"), F.lit(i)), 256)
                for i in range(4)
            ]
        ).alias("payload")
        hot = spark.range(50_000).select(
            F.col("id").alias("event_id"), F.lit(7).alias("user_id"), pay
        )
        cold = spark.range(50_000).select(
            (F.col("id") + 100_000).alias("event_id"),
            (F.col("id") % 100 + 100).alias("user_id"),
            pay,
        )
        events = hot.unionAll(cold)
        users = spark.range(300).select(
            F.col("id").alias("user_id"), (F.col("id") % 5).alias("segment")
        )
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100KB",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            joined = events.join(users, "user_id")
            assert len(joined.collect()) == 100_000
            plan = joined._sc._jvm.PythonSQLUtils.explainString(
                joined._jdf.queryExecution(), "simple"
            )
            assert "skew=true" in plan, "AQE did not mark the skewed join"
            assert "skewed" in plan  # the AQEShuffleRead split the partition
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestContrastiveOps:
    def test_negative_samples_exclusion_and_determinism(self, spark):
        from pyspark.sql import functions as F
        from sparkplug_spark.operators import negative_samples

        items = spark.range(100).select(F.col("id").alias("item_id"))
        pos = spark.createDataFrame(
            [(a, i) for a in range(5) for i in range(a, 100, 5)],
            "anchor_id long, item_id long",
        )
        out = negative_samples(pos, items, k=6, salt="t").collect()
        by_anchor = {}
        for r in out:
            by_anchor.setdefault(r.anchor_id, []).append(r)
        pos_set = {(r.anchor_id, r.item_id) for r in pos.collect()}
        for a, rows in by_anchor.items():
            assert len(rows) == 6
            assert sorted(r.neg_rank for r in rows) == [1, 2, 3, 4, 5, 6]
            for r in rows:
                assert (r.anchor_id, r.item_id) not in pos_set
            assert len({r.item_id for r in rows}) == 6  # no repeats
        # partitioning-invariant: same sample from a repartitioned input
        out2 = negative_samples(
            pos.repartition(7), items.repartition(5), k=6, salt="t"
        ).collect()
        assert {tuple(r) for r in out2} == {tuple(r) for r in out}
        # different salt -> different (still valid) sample
        out3 = negative_samples(pos, items, k=6, salt="other").collect()
        assert {tuple(r) for r in out3} != {tuple(r) for r in out}

    def test_negative_samples_shortfall_is_graceful(self, spark):
        from pyspark.sql import functions as F
        from sparkplug_spark.operators import negative_samples

        items = spark.range(5).select(F.col("id").alias("item_id"))
        # anchor 0's positives cover 4 of 5 items: at most 1 negative exists
        pos = spark.createDataFrame(
            [(0, i) for i in range(4)], "anchor_id long, item_id long"
        )
        out = negative_samples(pos, items, k=3, oversample=30).collect()
        assert {r.item_id for r in out} == {4}
        assert len(out) == 1

    def test_hard_negatives_exclude_before_ranking(self, spark):
        from pyspark.sql import functions as F
        from sparkplug_spark.operators import cosine_topk, hard_negative_mining

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("vec_id", "embedding")
        q = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        # positives: the query's own top-3 (incl. itself) — the worst case
        # where post-hoc filtering would leave holes
        top3 = cosine_topk(emb, q, k=3)
        pos = top3.select("query_id", F.col("neighbor_id").alias("vec_id"))
        out = hard_negative_mining(emb, q, pos, k=5)
        rows = out.collect()
        banned = {(r.query_id, r.vec_id) for r in pos.collect()}
        assert len(rows) == 15  # k always filled
        for r in rows:
            assert (r.query_id, r.neighbor_id) not in banned
            assert r.query_id != r.neighbor_id
        # the best hard negative is exactly the 4th-best overall neighbor
        top10 = {
            (r.query_id, r.rank): r.neighbor_id
            for r in cosine_topk(emb, q, k=10).collect()
        }
        got1 = {r.query_id: r.neighbor_id for r in rows if r.rank == 1}
        for qid in got1:
            assert got1[qid] == top10[(qid, 4)]


def test_pagerank_empty_graph_result_stays_usable(spark):
    """Regression: the empty-graph early return must NOT free the local
    checkpoint backing the returned DataFrame — a second action on the
    result would hit unrecomputable truncated lineage."""
    from sparkplug_spark.operators.graphs import pagerank

    e = spark.createDataFrame([], "src long, dst long")
    out = pagerank(e, iterations=3)
    assert out.count() == 0
    assert out.collect() == []  # second action: blocks must still exist


class TestNativeResizeAndMp4:
    """Round-4b: real library-free resize (native decode → nearest
    neighbor → PNG re-encode) and MP4 (ISO BMFF) video demux."""

    @staticmethod
    def _make_mp4(frames, timescale=1000, delta=100, chunks=None):
        import struct as st

        def box(t, body):
            return st.pack(">I", len(body) + 8) + t + body

        def full(t, body):
            return box(t, b"\x00\x00\x00\x00" + body)

        chunks = chunks or [len(frames)]
        ftyp = box(b"ftyp", b"isom" + st.pack(">I", 512) + b"isomiso2")
        mdat = box(b"mdat", b"".join(frames))
        offs, sizes = [], [len(f) for f in frames]
        i, cur = 0, len(ftyp) + 8
        for c in chunks:
            offs.append(cur)
            cur += sum(sizes[i : i + c])
            i += c
        stts = full(b"stts", st.pack(">III", 1, len(frames), delta))
        stsz = full(
            b"stsz",
            st.pack(">II", 0, len(frames))
            + st.pack(f">{len(frames)}I", *sizes),
        )
        runs = []
        for idx, c in enumerate(chunks):
            if not runs or runs[-1][1] != c:
                runs.append((idx + 1, c))
        stsc = full(
            b"stsc",
            st.pack(">I", len(runs))
            + b"".join(st.pack(">III", f, c, 1) for f, c in runs),
        )
        stco = full(
            b"stco", st.pack(">I", len(offs)) + st.pack(f">{len(offs)}I", *offs)
        )
        stbl = box(b"stbl", stts + stsz + stsc + stco)
        hdlr = full(b"hdlr", st.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"v\x00")
        mdhd = full(
            b"mdhd",
            st.pack(">IIIIHH", 0, 0, timescale, len(frames) * delta, 0x55C4, 0),
        )
        return ftyp + mdat + box(
            b"moov", box(b"trak", box(b"mdia", mdhd + hdlr + box(b"minf", stbl)))
        )

    def test_native_resize_identity_and_grid(self):
        from sparkplug_spark.operators.multimodal import (
            _native_image_resize,
            _png_pixels_raw,
        )

        rng = np.random.default_rng(9)
        img = rng.integers(0, 256, (12, 10, 3), dtype=np.uint8)
        png = encode_png_rgb8(img)
        same, _ = _png_pixels_raw(_native_image_resize(png, 10, 12))
        assert np.array_equal(same, img)
        small, _ = _png_pixels_raw(_native_image_resize(png, 5, 6))
        ys, xs = (np.arange(6) * 12) // 6, (np.arange(5) * 10) // 5
        assert np.array_equal(small, img[np.ix_(ys, xs)])

    def test_native_resize_through_spark_and_jpeg_source(self, spark):
        from sparkplug_spark.operators.jpeg import encode_jpeg_baseline
        from sparkplug_spark.operators.multimodal import (
            _png_pixels_raw,
            resize_images,
        )

        jp = encode_jpeg_baseline(
            np.full((16, 16, 3), 100, dtype=np.uint8), quant_dc=8
        )
        df = spark.createDataFrame([(1, jp)], "id long, payload binary")
        row = resize_images(df, size=(4, 4), decoder="native").collect()[0]
        assert (row["width"], row["height"]) == (4, 4)
        px, _ = _png_pixels_raw(row["payload_resized"])
        assert px.shape == (4, 4, 3)
        assert np.abs(px.astype(int) - 100).max() <= 1

    def test_bmp_rgb_channel_order(self):
        import struct as st

        from sparkplug_spark.operators.multimodal import _native_pixels_rgb

        w = h = 2
        row_bytes = (w * 3 + 3) & ~3
        raster = bytearray()
        for _ in range(h):
            row = bytes([0, 0, 255] * w)  # stored BGR: pure red
            raster += row + b"\x00" * (row_bytes - len(row))
        bmp = (
            b"BM"
            + st.pack("<IHHI", 54 + len(raster), 0, 0, 54)
            + st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
            + bytes(raster)
        )
        rgb = _native_pixels_rgb(bmp)
        assert rgb[0, 0, 0] == 1.0 and rgb[0, 0, 2] == 0.0

    def test_mp4_demux_samples_and_chunk_layouts(self):
        from sparkplug_spark.operators.multimodal import _real_video_frames

        frames = [bytes([i]) * (10 + i) for i in range(10)]
        for chunks in (None, [4, 4, 2], [1] * 10):
            got = _real_video_frames(
                self._make_mp4(frames, chunks=chunks), 250
            )
            assert [(ts, f) for _, ts, f in got] == [
                (0, frames[0]),
                (300, frames[3]),
                (500, frames[5]),
                (800, frames[8]),
            ]
        every = _real_video_frames(self._make_mp4(frames), 100)
        assert [f for _, _, f in every] == frames

    def test_mp4_through_spark(self, spark):
        from sparkplug_spark.operators.multimodal import sample_video_frames

        frames = [bytes([i]) * 8 for i in range(5)]
        mp4 = self._make_mp4(frames, delta=500)  # 2 fps
        df = spark.createDataFrame([(1, mp4)], "id long, payload binary")
        rows = sample_video_frames(df, every_ms=1000, decoder="real").collect()
        assert [(r.frame_idx, r.frame_ts_ms, bytes(r.frame)) for r in rows] == [
            (0, 0, frames[0]),
            (1, 1000, frames[2]),
            (2, 2000, frames[4]),
        ]

    def test_mp4_boundaries(self):
        import struct as st

        from sparkplug_spark.operators.multimodal import _real_video_frames

        def box(t, body):
            return st.pack(">I", len(body) + 8) + t + body

        with pytest.raises(NotImplementedError, match="fragmented"):
            _real_video_frames(box(b"ftyp", b"isom") + box(b"moof", b""), 100)
        with pytest.raises(NotImplementedError, match="ffmpeg"):
            _real_video_frames(b"\x1aE\xdf\xa3" + b"\x00" * 20, 100)  # mkv
        # audio-only mp4: no vide track
        hdlr = box(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
        au = box(b"ftyp", b"isom") + box(
            b"moov", box(b"trak", box(b"mdia", hdlr))
        )
        with pytest.raises(NotImplementedError, match="vide"):
            _real_video_frames(au, 100)


def test_mp4_gap_does_not_burst_and_mdhd_v1(spark):
    """Regression: after an stts timestamp gap larger than the cadence,
    the sampler must snap to the next boundary — a bare += every_ms
    emitted a burst of consecutive frames.  Also: version-1 mdhd (64-bit
    times) is plain ISO BMFF and must demux."""
    import struct as st

    from sparkplug_spark.operators.multimodal import _real_video_frames

    def box(t, b):
        return st.pack(">I", len(b) + 8) + t + b

    def full(t, b):
        return box(t, b"\x00\x00\x00\x00" + b)

    frames = [bytes([i]) * 8 for i in range(6)]
    ftyp = box(b"ftyp", b"isom" + st.pack(">I", 512) + b"isomiso2")
    mdat = box(b"mdat", b"".join(frames))
    stts = full(
        b"stts",
        st.pack(">I", 2) + st.pack(">II", 1, 10000) + st.pack(">II", 5, 100),
    )
    stsz = full(b"stsz", st.pack(">II", 0, 6) + st.pack(">6I", *[8] * 6))
    stsc = full(b"stsc", st.pack(">I", 1) + st.pack(">III", 1, 6, 1))
    stco = full(b"stco", st.pack(">I", 1) + st.pack(">I", len(ftyp) + 8))
    stbl = box(b"stbl", stts + stsz + stsc + stco)
    hdlr = full(b"hdlr", st.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"v\x00")
    for mdhd in (
        full(b"mdhd", st.pack(">IIIIHH", 0, 0, 1000, 10500, 0x55C4, 0)),
        box(
            b"mdhd",
            b"\x01\x00\x00\x00"
            + st.pack(">QQ", 0, 0)
            + st.pack(">I", 1000)
            + st.pack(">Q", 10500),
        ),
    ):
        mp4 = ftyp + mdat + box(
            b"moov", box(b"trak", box(b"mdia", mdhd + hdlr + box(b"minf", stbl)))
        )
        got = _real_video_frames(mp4, 1000)
        assert [ts for _, ts, _ in got] == [0, 10000], got


def test_replay_two_source_join(spark):
    """Two-source replay: batch i of each source shares an mtime slot, so
    a stream-stream join sees both sides advance together."""
    import datetime as dt

    from pyspark.sql import functions as F
    from sparkplug_spark.streaming import stream_stream_join
    from sparkplug_spark.streaming.replay import replay_file_stream

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    views = spark.createDataFrame(
        [(1, 7, t(0)), (2, 7, t(30)), (3, 8, t(5))],
        "event_id long, user_id long, ts timestamp",
    )
    buys = spark.createDataFrame(
        [(10, 7, t(20)), (11, 8, t(50)), (12, 7, t(45))],
        "event_id long, user_id long, ts timestamp",
    )
    out = replay_file_stream(
        spark,
        [views.filter(F.col("event_id") <= 2), views.filter(F.col("event_id") > 2)],
        lambda v, p: stream_stream_join(
            v, p, on="user_id", left_time_col="ts", right_time_col="ts",
            within_seconds=1800, watermark_delay="1 day",
        ),
        mode="append",
        batches2=[buys.filter(F.col("event_id") == 10), buys.filter(F.col("event_id") > 10)],
    )
    got = sorted((r.event_id, r.r_event_id) for r in out.collect())
    # view1@0 matches buy10@20; view2@30 matches buy12@45; view3@5 has no
    # buy within 30min (buy11@50 is 45min later)
    assert got == [(1, 10), (2, 12)]
