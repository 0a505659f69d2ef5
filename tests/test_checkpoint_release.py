"""Round 14 (VERDICT r13 #5/#6): tracked localCheckpoint blocks are
released at slot boundaries, by the same ``release`` that frees tracked
caches, and every streaming await is bounded by a named TimeoutError
instead of wedging the driver."""

from __future__ import annotations

import pytest

from xarray_dataaccessor_spark.operators.cachectl import (
    release,
    tracked_cache,
    tracked_count,
    tracked_local_checkpoint,
)


def _persisted_rdd_ids(spark):
    return [
        info.id()
        for info in spark._jsc.sc().getRDDStorageInfo()
    ]


def test_tracked_checkpoint_blocks_released(spark):
    release()  # clean slate
    before = set(_persisted_rdd_ids(spark))
    df = tracked_local_checkpoint(spark.range(0, 1000, 1, 4))
    assert df.count() == 1000  # materialize the checkpoint blocks
    assert tracked_count() == 1
    new_ids = set(_persisted_rdd_ids(spark)) - before
    assert new_ids, "materialized localCheckpoint left no storage trace"
    released = release(blocking=True)
    assert released == 1
    assert tracked_count() == 0
    assert not (set(_persisted_rdd_ids(spark)) & new_ids), (
        "checkpoint RDD blocks survived release — "
        "clearCache cannot see them, so this is a slot-to-slot leak"
    )


def test_one_release_frees_caches_and_checkpoints(spark):
    release()
    before = set(_persisted_rdd_ids(spark))
    cached = tracked_cache(spark.range(0, 1000, 1, 4).selectExpr("id * 2 AS v"))
    ckpt = tracked_local_checkpoint(spark.range(0, 1000, 1, 4))
    assert cached.count() == 1000 and ckpt.count() == 1000
    assert tracked_count() == 2
    new_ids = set(_persisted_rdd_ids(spark)) - before
    assert len(new_ids) == 2, "the cache and the checkpoint must both be stored"
    assert release(blocking=True) == 2
    assert tracked_count() == 0
    assert not (set(_persisted_rdd_ids(spark)) & new_ids)
    assert cached.count() == 1000  # a released cache recomputes


def test_release_is_safe_on_lazy_unmaterialized_checkpoint(spark):
    release()
    tracked_local_checkpoint(spark.range(10))  # never executed
    assert release() == 1
    assert tracked_count() == 0


def test_configure_session_drains_the_registry(spark):
    from xarray_dataaccessor_spark.session import configure_session

    release()
    tracked_local_checkpoint(spark.range(10))
    tracked_cache(spark.range(10))
    assert tracked_count() == 2
    configure_session(spark)  # the first statement of every query body
    assert tracked_count() == 0


class _WedgedQuery:
    """Duck-typed StreamingQuery that never terminates."""

    def __init__(self):
        self.stopped = False

    def awaitTermination(self, timeout=None):
        return False  # expired without termination

    def stop(self):
        self.stopped = True


def test_finish_available_now_raises_named_timeout(spark):
    from xarray_dataaccessor_spark.streaming.events import (
        finish_available_now,
    )

    q = _WedgedQuery()
    with pytest.raises(TimeoutError, match="did not finish within"):
        finish_available_now(spark, (q, "wedged_sink"), timeout_sec=0.05)
    assert q.stopped, "a timed-out query must be stopped, not leaked"


def test_available_now_removes_its_checkpoint_dir(spark, tmp_path):
    """Every availableNow run made a checkpoint directory under the temp
    dir and never removed it; the finished run leaves none behind."""
    import glob
    import os
    import tempfile

    from xarray_dataaccessor_spark.streaming.events import run_available_now

    spark.range(8).selectExpr("id", "id % 2 AS k").write.parquet(str(tmp_path / "in"))
    pattern = os.path.join(tempfile.gettempdir(), "xda_ckpt_*")
    before = set(glob.glob(pattern))
    stream = spark.readStream.schema("id long, k long").parquet(str(tmp_path / "in"))
    out = run_available_now(stream.groupBy("k").count(), shuffle_partitions=2)
    assert sorted(tuple(r) for r in out.collect()) == [(0, 4), (1, 4)]
    assert set(glob.glob(pattern)) - before == set()
