"""shuffle_scope's session-global override guard (r11).

The scope mutates spark.sql.shuffle.partitions for the whole session, so
it must refuse to run while a streaming query is active on that session
(concurrent batch jobs would silently plan at the loop's tiny count).
The one legitimate overlap — loops inside a foreachBatch writer — works
because Structured Streaming binds the batch frame to a PER-BATCH CLONED
session whose streams.active is empty; the third test pins that Spark
behavior so an upgrade that changes it fails loudly here rather than
silently re-opening the hazard.
"""

import os
import shutil
import tempfile

import pytest

from sparkplug_spark.partitioning import shuffle_scope


def test_scope_sets_and_restores(spark):
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    with shuffle_scope(spark, 2):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


def _one_batch_source(spark, tmp):
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    stage = os.path.join(tmp, "stage")
    spark.range(10).coalesce(1).write.parquet(stage)
    part = next(
        f for f in os.listdir(stage)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )
    shutil.move(os.path.join(stage, part), os.path.join(src, "b0.parquet"))
    return spark.readStream.schema("id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)


def test_scope_raises_under_active_stream(spark):
    tmp = tempfile.mkdtemp(prefix="sparkplug_scope_guard_")
    sink = os.path.join(tmp, "sink")
    try:
        q = (
            _one_batch_source(spark, tmp)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", os.path.join(tmp, "chk"))
            .start()
        )
        try:
            with pytest.raises(RuntimeError, match="active streaming"):
                with shuffle_scope(spark, 2):
                    pass
        finally:
            q.stop()
        # guard must not leave a half-applied override behind
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_foreachbatch_clone_session_scopes_fine(spark):
    tmp = tempfile.mkdtemp(prefix="sparkplug_scope_feb_")
    seen = {}

    def fb(df, _eid):
        s2 = df.sparkSession
        # the documented contract this module relies on: per-batch clone,
        # no active queries visible, conf writes isolated from the outer
        # session
        seen["clone"] = s2._jsparkSession.equals(spark._jsparkSession)
        seen["active"] = len(s2.streams.active)
        with shuffle_scope(s2, 2):
            seen["inner"] = s2.conf.get("spark.sql.shuffle.partitions")
            seen["outer"] = spark.conf.get("spark.sql.shuffle.partitions")
        seen["rows"] = df.count()

    try:
        q = (
            _one_batch_source(spark, tmp)
            .writeStream.foreachBatch(fb)
            .option("checkpointLocation", os.path.join(tmp, "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert seen["clone"] is False  # genuinely a different JVM session
    assert seen["active"] == 0  # so the guard passes inside foreachBatch
    assert seen["inner"] == "2"
    assert seen["outer"] == "4"  # outer session untouched by the scope
    assert seen["rows"] == 10


class _StubConf:
    def __init__(self):
        self.values = {"spark.sql.shuffle.partitions": "8"}

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value


class _SessionWithoutStreams:
    """A session whose ``.streams`` raises, as on backends without a
    streaming query manager."""

    def __init__(self):
        self.conf = _StubConf()

    @property
    def streams(self):
        raise NotImplementedError("streams is not available")


def test_skipped_guard_is_logged(caplog):
    stub = _SessionWithoutStreams()
    with caplog.at_level("WARNING", logger="sparkplug_spark.partitioning"):
        with shuffle_scope(stub, 2):
            assert stub.conf.get("spark.sql.shuffle.partitions") == "2"
    assert stub.conf.get("spark.sql.shuffle.partitions") == "8"
    assert any(
        "guard is skipped" in r.getMessage()
        and "NotImplementedError" in r.getMessage()
        for r in caplog.records
    )
