"""Optimistic-concurrency commits (Iceberg commit-retry analog): additive
commits rebase through a lost CAS race; replace (compaction) validates
its read-to-commit window and retries from fresh state instead of
clobbering a concurrent delta append; the pipeline runs compaction on a
background thread overlapped with ingest and converges identically.

Reference analog: Delta/Iceberg optimistic concurrency control — the
reference pipeline relies on Delta's conflict detection between its
streaming writer and OPTIMIZE maintenance; this engine owns the same
mechanics explicitly (sources/lake.py::_rebase_ok).
"""

from __future__ import annotations

import datetime
import threading

import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.operators.apply import compact, dedup_latest
from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.sources.lake import CommitConflict

TS = datetime.datetime(2025, 3, 1)

CH_SCHEMA = (
    "op string, lsn long, op_ordinal int, commit_ts timestamp, conv_id string, "
    "turn_idx int, role string, text string, tool string, ts timestamp"
)


def _rows(spark, lsn0, conv, n=4, text="t"):
    return spark.createDataFrame(
        [("I", lsn0 + i, 0, TS, conv, i, "user", f"{text}{i}", None, TS)
         for i in range(n)],
        CH_SCHEMA,
    )


def test_concurrent_delta_appends_both_commit(spark, tmp_path):
    """Two writers losing the CAS race to each other rebase and land:
    every delta file survives into the final snapshot, no writer errors."""
    t = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)
    bronze.apply_transcript_batch(t, _rows(spark, 100, "c0"), epoch=0)
    v0 = t.current_version()
    errors: list[Exception] = []
    barrier = threading.Barrier(2)

    def writer(tag: str, lsn0: int):
        try:
            barrier.wait()
            for i in range(3):
                t.append_deltas(
                    spark.createDataFrame(
                        [("U", lsn0 + i, 0, TS, f"c{tag}", 0, "user",
                          f"{tag}{i}", None, TS)],
                        CH_SCHEMA,
                    ).withColumn("bucket", F.lit(0)),
                    summary={"writer": tag},
                )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    th_a = threading.Thread(target=writer, args=("a", 200))
    th_b = threading.Thread(target=writer, args=("b", 300))
    th_a.start(); th_b.start(); th_a.join(); th_b.join()
    assert not errors, errors
    snap = t.snapshot()
    assert snap.version == v0 + 6  # all six commits landed
    n_deltas = sum(len(v) for v in snap.delta_files.values())
    assert n_deltas >= 6  # every writer's files referenced


def test_replace_validation_rejects_stale_compaction(spark, tmp_path):
    """A replace built against a snapshot whose partitions have since
    gained a delta must raise CommitConflict, never clobber the delta
    (the data-loss mode async compaction would otherwise have)."""
    t = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=1)
    bronze.apply_transcript_batch(t, _rows(spark, 100, "c0"), epoch=0)
    bronze.apply_transcript_batch(
        t, _rows(spark, 200, "c0", text="v2-"), epoch=1
    )
    read_v = t.current_version()
    resolved = dedup_latest(
        t.read_partitions([0], deltas="include", tombstones="include")
    ).where("op IS NULL OR op != 'D'")
    # a concurrent writer lands a newer delta AFTER the compaction read
    bronze.apply_transcript_batch(
        t, _rows(spark, 300, "c0", n=1, text="late-"), epoch=2
    )
    with pytest.raises(CommitConflict):
        t.replace_partitions(
            resolved,
            summary={"operation_kind": "compaction"},
            partition_values=[0],
            expected_version=read_v,
        )
    # the late delta is alive and wins; compact() (which re-reads and
    # retries internally) folds everything without losing it
    assert compact(t) is True
    state = {r.turn_idx: r.text for r in bronze.read_transcripts(t).collect()}
    assert state[0] == "late-0"
    assert t.snapshot().delta_files.get("0", []) == []


def test_compaction_retries_through_concurrent_ingest(spark, tmp_path):
    """Soak the real race: one thread ingests epochs while another runs
    compact() in a loop. Nothing errors, no update is lost, and the
    final resolved state equals last-writer-wins over every batch."""
    t = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)
    bronze.apply_transcript_batch(t, _rows(spark, 0, "c0", n=6), epoch=0)
    errors: list[Exception] = []
    done = threading.Event()

    def maintainer():
        try:
            while not done.is_set():
                compact(t)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    th = threading.Thread(target=maintainer)
    th.start()
    try:
        for e in range(1, 9):
            bronze.apply_transcript_batch(
                t,
                spark.createDataFrame(
                    [("U", 1000 * e + i, 0, TS, "c0", i, "user",
                      f"e{e}-{i}", None, TS) for i in range(6)],
                    CH_SCHEMA,
                ),
                epoch=e,
            )
    finally:
        done.set()
        th.join()
    assert not errors, errors
    compact(t)
    state = {r.turn_idx: r.text for r in bronze.read_transcripts(t).collect()}
    assert state == {i: f"e8-{i}" for i in range(6)}


def test_background_maintenance_replay_converges(spark, tmp_path):
    """The relay overlaps compaction with ingest (background
    maintenance): final bronze/silver state must equal a replay with
    maintenance inline, and finalize() must leave zero outstanding
    deltas exactly as before."""
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_transcript_changes,
    )
    from maritime_activity_reports_cdc_spark.streaming.runner import (
        CheckpointedReplayer,
    )

    log = generate_transcript_changes(
        spark, n_conversations=40, turns_per_conv=6,
        update_ratio=0.4, delete_ratio=0.1, seed=31,
    )
    states = {}
    for tag in ("async", "inline"):
        pipe = MedallionPipeline.create(
            spark, str(tmp_path / tag), n_buckets=4,
            compact_every=2, derived_every=2,
        )
        rep = CheckpointedReplayer(pipe, str(tmp_path / f"ck_{tag}"))
        if tag == "inline":
            # reference run: every compaction inline, on the thread
            # that requested it
            orig = MedallionPipeline._submit_maintenance

            def sync_submit(self, fn, *a, **k):
                fn(*a, **k)

            MedallionPipeline._submit_maintenance = sync_submit
            try:
                rep.run(log, n_chunks=5)
            finally:
                MedallionPipeline._submit_maintenance = orig
        else:
            rep.run(log, n_chunks=5)
        states[tag] = {
            (r.conv_id, r.turn_idx): r.text
            for r in pipe.read_silver().select(
                "conv_id", "turn_idx", "text").collect()
        }
    assert states["async"] == states["inline"]
