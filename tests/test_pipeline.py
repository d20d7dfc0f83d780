"""Medallion relay tests: silver/gold golden numbers (reference test
styles 2+4, /root/reference/.../tests/test_silver_layer.py:61-117,
test_gold_layer.py:199-255), checkpointed restart, streaming parity."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
from maritime_activity_reports_cdc_spark.sources.generator import (
    CHANGE_SCHEMA,
    generate_transcript_changes,
)
from maritime_activity_reports_cdc_spark.streaming.runner import (
    CheckpointedReplayer,
    start_stream,
)

T0 = dt.datetime(2025, 3, 1, 12, 0, 0)


def _row(op, lsn, conv, turn, role, text, tool=None, ts=None):
    return (op, lsn, 0, T0, conv, turn, role, text, tool, ts or (T0 + dt.timedelta(seconds=60 * turn)))


@pytest.fixture()
def tiny_batch(spark):
    rows = [
        _row("I", 1, "cA", 0, "system", "sys prompt"),
        _row("I", 2, "cA", 1, "user", "hello there world"),          # 3 tokens
        _row("I", 3, "cA", 2, "assistant", "hi and welcome friend"),  # 4 tokens
        _row("I", 4, "cA", 3, "tool", "result 42", tool="search"),
        _row("I", 5, "cB", 0, "user", "solo"),
    ]
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def test_silver_gold_golden_numbers(spark, tmp_path, tiny_batch):
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    p.apply_epoch(tiny_batch, epoch=0)

    silver = {(r.conv_id, r.turn_idx): r for r in p.silver.read().collect()}
    assert silver[("cA", 1)].n_tokens == 3
    assert silver[("cA", 2)].n_tokens == 4
    assert silver[("cA", 0)].gap_secs is None          # first turn
    assert silver[("cA", 1)].gap_secs == 60.0          # 1 min spacing
    assert silver[("cA", 1)].is_role_transition        # system -> user
    assert silver[("cA", 3)].quality_score == 1.0      # tool turn w/ tool set
    assert silver[("cB", 0)].quality_score == 1.0

    summary = {r.conv_id: r for r in p.summary.read().collect()}
    a = summary["cA"]
    assert a.n_turns == 4 and a.n_user == 1 and a.n_assistant == 1
    assert a.n_tool_calls == 1 and a.n_distinct_tools == 1
    assert a.duration_secs == 180.0
    assert a.avg_gap_secs == 60.0
    assert a.total_tokens == 2 + 3 + 4 + 2
    assert a.risk_level == "low"
    assert summary["cB"].n_turns == 1

    daily = {r.business_date: r for r in p.daily.read().collect()}
    d = daily[dt.date(2025, 3, 1)]
    assert d.n_active_conversations == 2 and d.n_turns == 5 and d.n_tool_calls == 1


def test_update_and_delete_ripple_to_gold(spark, tmp_path, tiny_batch):
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    p.apply_epoch(tiny_batch, epoch=0)
    upd = [
        _row("U", 10, "cA", 1, "user", "hello there big wide world"),  # 5 tokens now
        _row("D", 11, "cB", 0, None, None, ts=None),
    ]
    # D rows carry null image
    upd[1] = ("D", 11, 0, T0, "cB", 0, None, None, None, None)
    p.apply_epoch(spark.createDataFrame(upd, CHANGE_SCHEMA), epoch=1)

    silver = {(r.conv_id, r.turn_idx): r for r in p.silver.read().collect()}
    assert silver[("cA", 1)].n_tokens == 5
    assert ("cB", 0) not in silver                      # delete propagated (G7)

    summary = {r.conv_id: r for r in p.summary.read().collect()}
    assert summary["cA"].total_tokens == 2 + 5 + 4 + 2
    assert "cB" not in summary                          # empty conv summary dropped

    daily = {r.business_date: r for r in p.daily.read().collect()}
    assert daily[dt.date(2025, 3, 1)].n_active_conversations == 1
    assert daily[dt.date(2025, 3, 1)].n_turns == 4


def test_delete_only_epoch_shrinks_daily_rollup(spark, tmp_path, tiny_batch):
    """A delete-only epoch must recompute the dates its rows vacated:
    tombstoned turns contribute no ts, so the affected-date set comes
    from the conv×date index (the post-refresh silver state no longer
    has the rows)."""
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    day2 = dt.datetime(2025, 4, 2, 9, 0, 0)
    extra = [("I", 6, 0, T0, "cC", 0, "user", "next month text", None, day2)]
    batch0 = tiny_batch.unionByName(spark.createDataFrame(extra, CHANGE_SCHEMA))
    p.apply_epoch(batch0, epoch=0)
    daily = {r.business_date: r for r in p.daily.read().collect()}
    assert daily[dt.date(2025, 4, 2)].n_turns == 1

    files_before = dict(p.daily.snapshot().files)
    idx_before = dict(p.conv_dates.snapshot().files)

    delete_only = [("D", 10, 0, T0, "cC", 0, None, None, None, None)]
    p.apply_epoch(spark.createDataFrame(delete_only, CHANGE_SCHEMA), epoch=1)
    daily2 = {r.business_date: r for r in p.daily.read().collect()}
    assert dt.date(2025, 4, 2) not in daily2      # vacated date dropped
    assert daily2[dt.date(2025, 3, 1)].n_turns == 5  # other date untouched

    # pruning: the delete-only epoch must touch ONLY the vacated date's
    # MONTH partitions — the untouched month's files survive verbatim in
    # both the daily table and the conv×date index (no silver scan, no
    # whole-table rewrite)
    assert p.daily.snapshot().files["2025-03"] == files_before["2025-03"]
    assert p.conv_dates.snapshot().files["2025-03"] == idx_before["2025-03"]
    assert not p.daily.snapshot().files.get("2025-04")
    assert not p.conv_dates.snapshot().files.get("2025-04")


def test_daily_retry_after_crash_between_index_and_daily_commits(
    spark, tmp_path, tiny_batch, monkeypatch
):
    """Same-process retry of an epoch whose index commit landed but whose
    daily commit did not: month discovery then runs against the already-
    replaced index and would miss vacated months — the index commit's
    recorded month list must be replayed instead (round-3 review
    finding)."""
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    day2 = dt.datetime(2025, 4, 2, 9, 0, 0)
    extra = [("I", 6, 0, T0, "cC", 0, "user", "next month text", None, day2)]
    p.apply_epoch(
        tiny_batch.unionByName(spark.createDataFrame(extra, CHANGE_SCHEMA)), epoch=0
    )

    real = p.daily.replace_partitions
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected daily-commit crash")
        return real(*a, **kw)

    monkeypatch.setattr(p.daily, "replace_partitions", flaky)

    # delete-only epoch vacating 2025-04: its month is discoverable only
    # BEFORE the index replace (D rows carry no ts)
    delete_only = [("D", 10, 0, T0, "cC", 0, None, None, None, None)]
    batch1 = spark.createDataFrame(delete_only, CHANGE_SCHEMA)
    with pytest.raises(RuntimeError, match="injected"):
        p.apply_epoch(batch1, epoch=1)
    assert p.conv_dates.last_epoch("gold_conv_dates") == 1
    assert p.daily.last_epoch("gold_daily") == 0

    # same-process retry: bronze/silver skip idempotently; the derived
    # flush replays the recorded month set and drops the vacated date
    p.apply_epoch(batch1, epoch=1)
    assert p.daily.last_epoch("gold_daily") == 1
    daily2 = {r.business_date: r for r in p.daily.read().collect()}
    assert dt.date(2025, 4, 2) not in daily2
    assert daily2[dt.date(2025, 3, 1)].n_turns == 5


def test_sparse_relay_commit_counts(spark, tmp_path):
    """The per-epoch commit budget is part of the floor contract: a
    K-epoch sparse replay (derived_every=2, compaction off) commits
    exactly ONE bronze and ONE silver snapshot per epoch, ONE snapshot
    per gold table per derived flush, and ONE lineage + ONE metrics
    append per bounded replay — nothing per-epoch beyond the two data
    layers."""
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_sparse_update_epochs,
    )

    load = generate_transcript_changes(
        spark, n_conversations=200, turns_per_conv=5,
        update_ratio=0.0, delete_ratio=0.0, seed=31,
    )
    updates = generate_sparse_update_epochs(
        spark, n_conversations=200, turns_per_conv=5, n_epochs=4,
        convs_per_epoch=10, updates_per_conv=3, delete_frac=0.1,
        window_frac=0.2, seed=31,
    )
    p = MedallionPipeline.create(
        spark, str(tmp_path / "m"), n_buckets=4, layer_mode="auto",
        compact_every=0, compact_delta_depth=10**6, derived_every=2,
    )
    CheckpointedReplayer(p, str(tmp_path / "ck0")).run(load, n_chunks=1)
    CheckpointedReplayer(p, str(tmp_path / "ck1")).run(
        updates, n_chunks=4, start_epoch=1
    )
    # 5 epochs total (load + 4 updates): one commit per epoch per data
    # layer; 3 derived flushes (load finalize, epochs 1-2, epochs 3-4);
    # 2 observability appends (one per bounded replay)
    assert p.bronze.current_version() == 5
    assert p.silver.current_version() == 5
    assert p.summary.current_version() == 3
    assert p.daily.current_version() == 3
    assert p.conv_dates.current_version() == 3
    assert p.lineage.current_version() == 2
    assert p.metrics.current_version() == 2
    # the relay restored the session shuffle width on finalize
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(
        int(p._session_shuffle_default)
    )


def test_async_flush_failure_surfaces_on_next_epoch(
    spark, tmp_path, tiny_batch, monkeypatch
):
    """A background derived-flush failure must surface on the next
    drain point (next flush submit / finalize), not vanish."""
    p = MedallionPipeline.create(
        spark, str(tmp_path / "m"), n_buckets=4, derived_every=1,
    )
    p.async_derived = True  # direct-call default is sync; opt in here

    def boom(*a, **kw):
        raise RuntimeError("injected flush failure")

    monkeypatch.setattr(p.summary, "replace_partitions", boom)
    p.apply_epoch(tiny_batch, epoch=0)  # submits the async flush
    upd = [_row("U", 10, "cA", 1, "user", "changed text here")]
    with pytest.raises(RuntimeError, match="injected flush failure"):
        p.apply_epoch(spark.createDataFrame(upd, CHANGE_SCHEMA), epoch=1)
        p.finalize()


def test_checkpointed_replay_and_crash_restart(spark, tmp_path):
    changes = generate_transcript_changes(
        spark, n_conversations=30, turns_per_conv=8, update_ratio=0.3,
        delete_ratio=0.05, duplicate_ratio=0.05, seed=11,
    ).cache()

    # straight-through run
    p1 = MedallionPipeline.create(spark, str(tmp_path / "one"), n_buckets=4)
    CheckpointedReplayer(p1, str(tmp_path / "ck1")).run(changes, n_chunks=1)

    # crash after epoch 2 of 6, then resume from checkpoint
    p2 = MedallionPipeline.create(spark, str(tmp_path / "two"), n_buckets=4)
    replayer = CheckpointedReplayer(p2, str(tmp_path / "ck2"))
    with pytest.raises(RuntimeError, match="injected crash"):
        replayer.run(changes, n_chunks=6, fail_after_epoch=2)
    p2b = MedallionPipeline.load(spark, str(tmp_path / "two"))
    report = CheckpointedReplayer(p2b, str(tmp_path / "ck2")).run(changes, n_chunks=6)
    assert report.epochs_skipped == 3 and report.epochs_run >= 1

    for layer in ("bronze", "silver"):
        a = getattr(p1, layer).read().orderBy("conv_id", "turn_idx").select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).toPandas()
        b = getattr(p2b, layer).read().orderBy("conv_id", "turn_idx").select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).toPandas()
        import pandas as pd

        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # _gen provenance legitimately differs across chunkings — compare
    # business columns only
    sa = p1.summary.read().drop("_gen", "_rank").orderBy("conv_id").toPandas()
    sb = p2b.summary.read().drop("_gen", "_rank").orderBy("conv_id").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(sa, sb, check_dtype=False)
    # lineage recorded source offsets per bucket
    assert p2b.lineage.read().count() > 0
    assert p2b.metrics.read().where(F.col("events_per_sec") > 0).count() > 0
    changes.unpersist()


def test_observability_flush_failure_warns_not_silent(
    spark, tmp_path, tiny_batch, caplog, monkeypatch
):
    """A failing metrics/lineage append must surface a warning (dropped
    telemetry should be visible), and must not fail the relay."""
    import logging

    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    p.apply_epoch(tiny_batch, epoch=0)
    assert p._pending_metrics and p._pending_lineage

    def boom(*a, **kw):
        raise RuntimeError("simulated commit IO failure")

    monkeypatch.setattr(p.metrics, "append", boom)
    monkeypatch.setattr(p.lineage, "append", boom)
    with caplog.at_level(logging.WARNING):
        p.flush_observability()          # must not raise
    msgs = " ".join(r.message for r in caplog.records)
    assert "metrics flush failed" in msgs and "lineage flush failed" in msgs
    assert not p._pending_metrics and not p._pending_lineage


def test_prechunk_resume_with_grown_log(spark, tmp_path):
    """Resuming a prechunked replay after the change log GREW must apply
    the new tail, not mistake the un-materialized chunks for empty epochs
    (round-2 review: checkpoint advanced past real rows)."""
    import pandas as pd

    base = [
        _row("I", lsn, f"c{lsn % 5}", lsn // 5, "user", f"text v{lsn}")
        for lsn in range(1, 41)
    ]
    grown_tail = [
        _row("U", lsn, f"c{lsn % 5}", (lsn - 41) // 5, "user", f"UPDATED v{lsn}")
        for lsn in range(41, 61)
    ]
    log1 = spark.createDataFrame(base, CHANGE_SCHEMA)
    log2 = spark.createDataFrame(base + grown_tail, CHANGE_SCHEMA)

    # crash mid-replay of the ORIGINAL log with the chunk store materialized
    p = MedallionPipeline.create(spark, str(tmp_path / "grow"), n_buckets=4)
    rep = CheckpointedReplayer(p, str(tmp_path / "ckg"))
    with pytest.raises(RuntimeError, match="injected crash"):
        rep.run(log1, n_chunks=8, fail_after_epoch=1, prechunk=True)

    # resume with the grown log: the persisted step extends the chunk
    # sequence, and the tail past the materialized high-water mark must
    # be re-materialized and applied
    p2 = MedallionPipeline.load(spark, str(tmp_path / "grow"))
    CheckpointedReplayer(p2, str(tmp_path / "ckg")).run(log2, prechunk=True)

    # straight-through reference on the grown log
    p_ref = MedallionPipeline.create(spark, str(tmp_path / "growref"), n_buckets=4)
    CheckpointedReplayer(p_ref, str(tmp_path / "ckgref")).run(log2, n_chunks=1)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    a = p_ref.bronze.read().orderBy("conv_id", "turn_idx").select(*cols).toPandas()
    b = p2.bronze.read().orderBy("conv_id", "turn_idx").select(*cols).toPandas()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # the grown rows specifically must have landed
    assert b[b.text.str.startswith("UPDATED")].shape[0] == 20


def test_derived_cadence_matches_per_epoch_refresh(spark, tmp_path):
    """derived_every>1 (the reference's own gold-trigger ratio) must
    produce the identical FINAL gold state after finalize(), including
    across a crash mid-cadence (pending sets lost -> full-rebuild
    catch-up on resume)."""
    import pandas as pd

    changes = generate_transcript_changes(
        spark, n_conversations=25, turns_per_conv=7, update_ratio=0.4,
        delete_ratio=0.1, seed=19,
    ).cache()

    p1 = MedallionPipeline.create(spark, str(tmp_path / "ref"), n_buckets=4)
    CheckpointedReplayer(p1, str(tmp_path / "ck1")).run(changes, n_chunks=6)

    p2 = MedallionPipeline.create(spark, str(tmp_path / "cad"), n_buckets=4, derived_every=3)
    CheckpointedReplayer(p2, str(tmp_path / "ck2")).run(changes, n_chunks=6)

    p3 = MedallionPipeline.create(spark, str(tmp_path / "crash"), n_buckets=4, derived_every=4)
    rep3 = CheckpointedReplayer(p3, str(tmp_path / "ck3"))
    with pytest.raises(RuntimeError, match="injected crash"):
        rep3.run(changes, n_chunks=6, fail_after_epoch=2)  # pending lost
    p3b = MedallionPipeline.load(spark, str(tmp_path / "crash"))
    p3b.derived_every = 4
    assert p3b._derived_behind  # gold trails silver after the crash
    CheckpointedReplayer(p3b, str(tmp_path / "ck3")).run(changes, n_chunks=6)

    def frames(p):
        s = p.read_summary().drop("_gen", "_rank").orderBy("conv_id").toPandas()
        d = p.read_daily().drop("_gen", "_rank").orderBy("business_date").toPandas()
        return s, d

    s1, d1 = frames(p1)
    for p in (p2, p3b):
        s, d = frames(p)
        pd.testing.assert_frame_equal(s1, s.reset_index(drop=True), check_dtype=False)
        pd.testing.assert_frame_equal(d1, d.reset_index(drop=True), check_dtype=False)
    changes.unpersist()


def test_structured_streaming_feed_matches_batch(spark, tmp_path):
    """S8/T6 parity: the same change log delivered as a parquet file feed
    through readStream+foreachBatch converges to the batch-replay state."""
    changes = generate_transcript_changes(
        spark, n_conversations=20, turns_per_conv=6, update_ratio=0.3,
        delete_ratio=0.05, seed=13,
    ).cache()

    p_batch = MedallionPipeline.create(spark, str(tmp_path / "batch"), n_buckets=4)
    CheckpointedReplayer(p_batch, str(tmp_path / "ckb")).run(changes, n_chunks=1)

    # deliver the feed as LSN-ordered parquet files
    feed_dir = str(tmp_path / "feed")
    lo, hi = changes.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    step = (hi - lo) // 3 + 1
    for i in range(3):
        chunk = changes.where((F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step))
        chunk.coalesce(1).write.mode("append").parquet(feed_dir)

    p_stream = MedallionPipeline.create(spark, str(tmp_path / "stream"), n_buckets=4)
    q = start_stream(spark, p_stream, feed_dir, str(tmp_path / "cks"), available_now=True)
    q.awaitTermination(120)

    import pandas as pd

    a = p_batch.silver.read().orderBy("conv_id", "turn_idx").select(
        "conv_id", "turn_idx", "text", "n_tokens", "gap_secs"
    ).toPandas()
    b = p_stream.silver.read().orderBy("conv_id", "turn_idx").select(
        "conv_id", "turn_idx", "text", "n_tokens", "gap_secs"
    ).toPandas()
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    changes.unpersist()


def test_quality_and_pipeline_report(spark, tmp_path, tiny_batch):
    """The report surface (reference utils/data_quality.py:167-247 +
    status vocabulary): score stats, category distribution, per-field
    completeness, relay throughput, table state."""
    from maritime_activity_reports_cdc_spark.report import pipeline_report, quality_report

    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    p.apply_epoch(tiny_batch, epoch=0)
    p.flush_observability()

    rep = pipeline_report(p)
    q = rep["silver_quality"]
    assert q["total_records"] == 5
    assert abs(q["quality_statistics"]["average_score"] - 1.0) < 1e-9
    assert q["data_completeness"]["text"]["completeness_percentage"] == 100.0
    assert sum(q["quality_distribution"].values()) == 5
    assert rep["relay"]["events_applied"] == 5 and rep["relay"]["epochs"] == 1
    assert rep["tables"]["bronze"]["version"] >= 1
    assert "conv_dates" in rep["tables"]

    empty = quality_report(p.silver.read().where("1=0"), "empty")
    assert empty["total_records"] == 0 and "error" in empty


def test_create_and_load_reject_unsupported_modes(spark, tmp_path):
    """Unknown and retired modes fail at the engine boundary instead of
    silently running as 'cow'."""
    for kwargs in ({"layer_mode": "zebra"}, {"layer_mode": "mor"},
                   {"bronze_mode": "turn"}):
        with pytest.raises(ValueError, match="_mode must be"):
            MedallionPipeline.create(spark, str(tmp_path / "bad"), n_buckets=2, **kwargs)
    assert not (tmp_path / "bad").exists()

    root = str(tmp_path / "lake")
    p = MedallionPipeline.create(spark, root, n_buckets=2, with_gold=False, with_daily=False)
    # a lake written with the retired generation-MoR derived layers
    p.silver.set_properties({"layer_mode": "mor"})
    with pytest.raises(ValueError, match="'mor', which is no longer supported"):
        MedallionPipeline.load(spark, root)
