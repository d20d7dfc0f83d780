"""Merge-on-read: delta-append apply + read-time resolution + compaction
must equal the naive fold, and a bronze with deltas must feed the same
derived layers as one folded to base files after every epoch (the shape
the retired copy-on-write apply kept)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.operators.apply import compact, read_merged
from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
from maritime_activity_reports_cdc_spark.sources.generator import generate_transcript_changes
from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

from tests.helpers import assert_states_equal, naive_replay


@pytest.fixture(scope="module")
def changes(spark):
    df = generate_transcript_changes(
        spark, n_conversations=40, turns_per_conv=10, update_ratio=0.4,
        delete_ratio=0.1, duplicate_ratio=0.1, seed=17,
    ).cache()
    df.count()
    yield df
    df.unpersist()


def _state(df):
    return (
        df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )


def test_mor_replay_matches_oracle_and_cow(spark, tmp_path, changes):
    expected = naive_replay(changes)

    mor = bronze.create_transcripts_table(spark, str(tmp_path / "mor"), n_buckets=8)
    bronze.replay_change_log(mor, changes, n_chunks=5)
    assert mor.delta_partition_values(), "deltas should exist before compaction"
    assert_states_equal(_state(read_merged(mor)), expected)

    # compaction folds deltas into base; resolved state unchanged
    assert compact(mor) is True
    assert mor.delta_partition_values() == []
    assert_states_equal(_state(mor.read()), expected)
    assert_states_equal(_state(read_merged(mor)), expected)

    # idempotent replay after compaction
    stats = bronze.replay_change_log(mor, changes, n_chunks=5)
    assert all(not r.applied for r in stats.results)


def test_mor_interleaved_compaction(spark, tmp_path, changes):
    """Compact between chunks — resolution across base+new deltas stays
    correct (tombstones must survive until folded)."""
    expected = naive_replay(changes)
    t = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    lo, hi = changes.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    step = (hi - lo) // 4 + 1
    for i in range(4):
        chunk = changes.where((F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step))
        bronze.apply_transcript_batch(t, chunk, epoch=i)
        if i == 1:
            compact(t)
    assert_states_equal(_state(read_merged(t)), expected)


def test_mor_pipeline_matches_cow_pipeline(spark, tmp_path, changes):
    """Bronze compacted after every epoch (base files only, as a
    copy-on-write bronze was) vs. deltas carried across epochs: silver
    and gold agree."""
    cow = MedallionPipeline.create(spark, str(tmp_path / "cow"), n_buckets=4, compact_every=1)
    CheckpointedReplayer(cow, str(tmp_path / "ck1")).run(changes, n_chunks=4)
    assert cow.bronze.delta_partition_values() == []

    mor = MedallionPipeline.create(
        spark, str(tmp_path / "mor"), n_buckets=4, compact_every=3
    )
    CheckpointedReplayer(mor, str(tmp_path / "ck2")).run(changes, n_chunks=4)

    for cols, a_df, b_df in [
        (["conv_id", "turn_idx", "text", "n_tokens", "gap_secs"], cow.silver.read(), mor.silver.read()),
        (["conv_id", "n_turns", "total_tokens", "risk_level"], cow.summary.read(), mor.summary.read()),
    ]:
        a = a_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
        b = b_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False)


def _always_sparse(monkeypatch):
    """Route every auto-mode epoch to the turn path."""
    monkeypatch.setattr(MedallionPipeline, "_dense_batch", lambda self, affected: False)


def test_turn_incremental_silver_matches_cow(spark, tmp_path, changes, monkeypatch):
    """The turn path (turn-level key-MoR silver: fresh rows from the
    batch + ≤1 successor per changed key), taken by every epoch of an
    auto pipeline, must resolve to exactly the CoW pipeline's state —
    window columns (gap_secs/turn_gap/role transitions) included, across
    chunked replay, crash-resume, deletes, and compaction."""
    cow = MedallionPipeline.create(spark, str(tmp_path / "cow"), n_buckets=4)
    CheckpointedReplayer(cow, str(tmp_path / "ckc")).run(changes, n_chunks=5)

    _always_sparse(monkeypatch)
    tn = MedallionPipeline.create(
        spark, str(tmp_path / "turn"), n_buckets=4,
        layer_mode="auto", compact_every=0, compact_delta_depth=10**6,
    )
    rep = CheckpointedReplayer(tn, str(tmp_path / "ckt"))
    with pytest.raises(RuntimeError, match="injected crash"):
        rep.run(changes, n_chunks=5, fail_after_epoch=1)
    tn2 = MedallionPipeline.load(spark, str(tmp_path / "turn"))
    assert tn2.layer_mode == "auto"
    CheckpointedReplayer(tn2, str(tmp_path / "ckt")).run(changes, n_chunks=5)

    def check(p):
        pairs = [
            (["conv_id", "turn_idx", "text", "n_tokens", "gap_secs", "turn_gap",
              "is_role_transition", "quality_score"],
             cow.read_silver(), p.read_silver()),
            (["conv_id", "n_turns", "total_tokens", "avg_gap_secs", "max_gap_secs",
              "risk_level"], cow.read_summary(), p.read_summary()),
            (["business_date", "n_active_conversations", "n_turns", "total_tokens",
              "avg_quality"], cow.read_daily(), p.read_daily()),
        ]
        for cols, a_df, b_df in pairs:
            a = a_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
            b = b_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
            pd.testing.assert_frame_equal(a, b, check_dtype=False)

    assert tn2.silver.delta_partition_values(), "turn deltas should be uncompacted"
    check(tn2)                    # resolve path
    tn2.compact_all()
    assert tn2.silver.delta_partition_values() == []
    # tombstones folded away entirely (generations are monotonic)
    from pyspark.sql import functions as SF
    raw = tn2.silver.read(tombstones="include")
    assert raw.where(SF.col("op") == "D").count() == 0
    check(tn2)                    # read-optimized path


def test_auto_layer_mode_matches_cow_and_flips_plans(spark, tmp_path):
    """layer_mode='auto' picks the silver plan per epoch: a dense batch
    (initial load, bulk backfill) takes the whole-bucket CoW rewrite —
    clearing outstanding deltas — while sparse update epochs take the
    turn-level O(batch) delta path. The final state must match the pure
    CoW pipeline in every layer."""
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_sparse_update_epochs,
    )

    load = generate_transcript_changes(
        spark, n_conversations=40, turns_per_conv=10,
        update_ratio=0.0, delete_ratio=0.0, seed=23,
    ).cache()
    sparse = generate_sparse_update_epochs(
        spark, n_conversations=40, turns_per_conv=10, n_epochs=3,
        convs_per_epoch=3, updates_per_conv=2, delete_frac=0.2,
        window_frac=0.3, seed=23,
    ).cache()

    cow = MedallionPipeline.create(spark, str(tmp_path / "cow"), n_buckets=4)
    CheckpointedReplayer(cow, str(tmp_path / "ckc1")).run(load, n_chunks=1)
    CheckpointedReplayer(cow, str(tmp_path / "ckc2")).run(
        sparse, n_chunks=3, start_epoch=1
    )

    au = MedallionPipeline.create(
        spark, str(tmp_path / "auto"), n_buckets=4, layer_mode="auto",
        compact_every=0, compact_delta_depth=10**6,
    )
    CheckpointedReplayer(au, str(tmp_path / "cka1")).run(load, n_chunks=1)
    # dense load epoch -> CoW plan: no silver deltas
    assert au.silver.delta_partition_values() == []
    CheckpointedReplayer(au, str(tmp_path / "cka2")).run(
        sparse, n_chunks=3, start_epoch=1
    )
    # sparse epochs -> turn-level delta plan
    assert au.silver.delta_partition_values(), "sparse epochs should append deltas"

    def check():
        pairs = [
            (["conv_id", "turn_idx", "text", "n_tokens", "gap_secs", "turn_gap",
              "is_role_transition", "quality_score"],
             cow.read_silver(), au.read_silver()),
            (["conv_id", "n_turns", "total_tokens", "avg_gap_secs", "max_gap_secs",
              "risk_level"], cow.read_summary(), au.read_summary()),
            (["business_date", "n_active_conversations", "n_turns", "total_tokens",
              "avg_quality"], cow.read_daily(), au.read_daily()),
        ]
        for cols, a_df, b_df in pairs:
            a = a_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
            b = b_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
            pd.testing.assert_frame_equal(a, b, check_dtype=False)

    check()

    # a dense update wave on top (touches every conversation) must route
    # back to the CoW plan and fold the outstanding deltas away
    dense_wave = generate_sparse_update_epochs(
        spark, n_conversations=40, turns_per_conv=10, n_epochs=1,
        convs_per_epoch=200, updates_per_conv=3, delete_frac=0.0,
        window_frac=1.0, seed=29, lsn_base=10**12,
    ).cache()
    cow.apply_epoch(dense_wave, epoch=10)
    au.apply_epoch(dense_wave, epoch=10)
    assert au.silver.delta_partition_values() == [], "dense epoch should fold deltas"
    check()
    for df in (load, sparse, dense_wave):
        df.unpersist()


def test_overlap_turn_refresh_no_resurrection_on_stale_update(spark, tmp_path, monkeypatch):
    """With bronze/silver overlapped, the turn refresh derives state from
    the PRE-apply snapshot overlaid with batch winners. A batch carrying
    an update OLDER than a persisted delete must not resurrect the key
    in silver (the overlay keeps tombstones visible through the dedup)."""
    import datetime as dt

    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    T0 = dt.datetime(2025, 7, 1, 0, 0, 0)

    def row(op, lsn, conv, turn, text=None, ts_off=0):
        if op == "D":
            return ("D", lsn, lsn, T0, conv, turn, None, None, None, None)
        return (op, lsn, lsn, T0, conv, turn, "user", text, None,
                T0 + dt.timedelta(seconds=ts_off))

    _always_sparse(monkeypatch)
    p = MedallionPipeline.create(
        spark, str(tmp_path / "ov"), n_buckets=2,
        layer_mode="auto", compact_every=0, compact_delta_depth=10**6,
    )
    p.apply_epoch(spark.createDataFrame(
        [row("I", 1, "cX", 0, "hello", 0), row("I", 2, "cX", 1, "there", 60)],
        CHANGE_SCHEMA), epoch=0)
    # delete turn 1 at lsn 10
    p.apply_epoch(spark.createDataFrame(
        [row("D", 10, "cX", 1)], CHANGE_SCHEMA), epoch=1)
    # redelivered STALE update for turn 1 at lsn 5 (< 10)
    p.apply_epoch(spark.createDataFrame(
        [row("U", 5, "cX", 1, "stale resurrect attempt", 60)],
        CHANGE_SCHEMA), epoch=2)
    silver = {(r.conv_id, r.turn_idx) for r in p.read_silver().collect()}
    assert ("cX", 1) not in silver, "stale update resurrected key"
    assert ("cX", 0) in silver
