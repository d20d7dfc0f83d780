"""T8 lifecycle management + the parallel metadata feed (reference
``silver/streaming_processor.py:193-277,342`` and the two-query pattern
of ``silver/cdf_processor.py:93-138``)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
from maritime_activity_reports_cdc_spark.sources.generator import (
    CHANGE_SCHEMA,
    generate_conv_meta_changes,
    generate_transcript_changes,
)
from maritime_activity_reports_cdc_spark.streaming.manager import StreamManager
from maritime_activity_reports_cdc_spark.streaming.runner import (
    CheckpointedReplayer,
    start_all_streams,
)


@pytest.fixture(scope="module")
def feeds(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("feeds")
    changes = generate_transcript_changes(
        spark, n_conversations=20, turns_per_conv=6, update_ratio=0.3,
        delete_ratio=0.05, seed=31,
    ).cache()
    meta = generate_conv_meta_changes(spark, n_conversations=20, seed=31).cache()
    changes.coalesce(1).write.parquet(str(root / "transcripts"))
    meta.coalesce(1).write.parquet(str(root / "meta"))
    yield changes, meta, root
    changes.unpersist()
    meta.unpersist()


def test_two_feeds_lifecycle_and_metrics(spark, tmp_path, feeds):
    changes, meta, root = feeds
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    mgr = StreamManager(spark, metrics_path=str(tmp_path / "_stream_metrics"))
    start_all_streams(
        mgr, spark, p, str(root / "transcripts"), str(root / "meta"),
        str(tmp_path / "ck"), available_now=True,
    )
    mgr.await_all(180)
    health = mgr.monitor(poll_secs=0.1, max_polls=1, until_idle=True)
    assert set(health) == {"transcript_changes", "conv_meta_changes"}
    assert not any(h["active"] for h in health.values())
    assert all(h["last_error"] is None for h in health.values())
    # progress metrics landed with the reference's vocabulary
    rows = mgr.metrics_table.read().collect()
    assert {r.name for r in rows} == {"transcript_changes", "conv_meta_changes"}
    assert all(r.batch_duration_ms >= 0 for r in rows)

    # parity with the batch path on BOTH state stores
    p2 = MedallionPipeline.create(spark, str(tmp_path / "b"), n_buckets=4)
    CheckpointedReplayer(p2, str(tmp_path / "ckb")).run(changes, n_chunks=1)
    p2.apply_meta_epoch(meta, epoch=0)
    for a_df, b_df, keys in [
        (p.silver.read(), p2.silver.read(), ["conv_id", "turn_idx"]),
        (
            p.conv_master.read().select("conv_id", "title", "is_current", "lsn"),
            p2.conv_master.read().select("conv_id", "title", "is_current", "lsn"),
            ["conv_id", "lsn"],
        ),
    ]:
        cols = [c for c in a_df.columns if not c.startswith("_")]
        a = a_df.select(cols).toPandas().sort_values(keys).reset_index(drop=True)
        b = b_df.select(cols).toPandas().sort_values(keys).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_restart_failed_resumes_and_converges(spark, tmp_path, feeds):
    changes, _meta, root = feeds
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    mgr = StreamManager(spark)
    state = {"fail": True}

    def make():
        def relay(df, batch_id):
            if state["fail"]:
                state["fail"] = False
                raise RuntimeError("injected stream crash")
            p.apply_epoch(df, epoch=batch_id)

        return (
            spark.readStream.schema(CHANGE_SCHEMA)
            .parquet(str(root / "transcripts"))
            .writeStream.foreachBatch(relay)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )

    q = mgr.register("transcripts", make)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert not q.isActive and q.exception() is not None

    restarted = mgr.restart_failed()
    assert restarted == ["transcripts"]
    mgr.await_all(180)
    assert mgr.restart_failed() == []      # finished cleanly, stays down
    assert mgr.queries["transcripts"].restarts == 1

    p2 = MedallionPipeline.create(spark, str(tmp_path / "b"), n_buckets=4)
    CheckpointedReplayer(p2, str(tmp_path / "ckb")).run(changes, n_chunks=1)
    a = p.silver.read().orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").toPandas()
    b = p2.silver.read().orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").toPandas()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_processing_time_soak_with_kill_and_live_appends(spark, tmp_path):
    """Continuous-trigger soak: a processingTime stream over a growing
    file feed, with an injected mid-run crash. The manager restarts it
    from the checkpoint, later appends are picked up live, and the final
    state converges to the batch replay of the full log; progress rows
    land in the stream-metrics table."""
    import time

    changes = generate_transcript_changes(
        spark, n_conversations=15, turns_per_conv=5, update_ratio=0.3, seed=37,
    ).cache()
    lo, hi = changes.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    step = (hi - lo) // 3 + 1
    parts = [
        changes.where((F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step))
        for i in range(3)
    ]
    feed = str(tmp_path / "feed")
    parts[0].coalesce(1).write.mode("append").parquet(feed)

    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    mgr = StreamManager(spark, metrics_path=str(tmp_path / "_sm"))
    state = {"fail_once": True}

    def make():
        def relay(df, batch_id):
            if state["fail_once"] and batch_id >= 1:
                state["fail_once"] = False
                raise RuntimeError("injected kill")
            p.apply_epoch(df, epoch=batch_id)

        return (
            spark.readStream.schema(CHANGE_SCHEMA)
            .parquet(feed)
            .writeStream.foreachBatch(relay)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="1 seconds")
            .start()
        )

    q = mgr.register("soak", make)
    time.sleep(4)
    # live append while the stream runs -> a later microbatch -> the
    # injected crash fires on it
    parts[1].coalesce(1).write.mode("append").parquet(feed)
    deadline = time.monotonic() + 120
    while q.isActive and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not q.isActive and q.exception() is not None, "injected kill did not fire"

    assert mgr.restart_failed() == ["soak"]
    parts[2].coalesce(1).write.mode("append").parquet(feed)

    expected = MedallionPipeline.create(spark, str(tmp_path / "b"), n_buckets=4)
    from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

    CheckpointedReplayer(expected, str(tmp_path / "ckb")).run(changes, n_chunks=1)
    want = expected.silver.read().count()

    deadline = time.monotonic() + 180
    while time.monotonic() < deadline:
        if p.silver.read().count() == want:
            break
        time.sleep(1.0)
    mgr.collect_progress()
    mgr.stop_all()

    cols = ["conv_id", "turn_idx", "text", "n_tokens"]
    a = expected.silver.read().select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    b = p.silver.read().select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert mgr.queries["soak"].restarts == 1
    rows = mgr.metrics_table.read().where(F.col("name") == "soak").collect()
    assert rows and all(r.batch_duration_ms >= 0 for r in rows)
    health = mgr.health_check()
    # last_error is the historical record of what triggered the restart
    assert "injected kill" in health["soak"]["last_error"]
    assert not health["soak"]["active"]
    changes.unpersist()
