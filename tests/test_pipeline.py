"""Medallion relay tests: silver/gold golden numbers (reference test
styles 2+4, /root/reference/.../tests/test_silver_layer.py:61-117,
test_gold_layer.py:199-255), checkpointed restart, streaming parity."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.plans import bronze as bronze_plan
from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
from maritime_activity_reports_cdc_spark.sources.generator import (
    CHANGE_SCHEMA,
    generate_transcript_changes,
)
from maritime_activity_reports_cdc_spark.streaming.runner import (
    CheckpointedReplayer,
    start_stream,
)

from tests.helpers import assert_states_equal, naive_replay, shuffle_exchanges, table_state

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
    p.finalize()  # the gold flush runs in the background

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
    p.finalize()

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
    p.finalize()
    daily = {r.business_date: r for r in p.daily.read().collect()}
    assert daily[dt.date(2025, 4, 2)].n_turns == 1

    files_before = dict(p.daily.snapshot().files)
    idx_before = dict(p.conv_dates.snapshot().files)

    delete_only = [("D", 10, 0, T0, "cC", 0, None, None, None, None)]
    p.apply_epoch(spark.createDataFrame(delete_only, CHANGE_SCHEMA), epoch=1)
    p.finalize()
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
    p.finalize()  # epoch 0's background flush must not meet the fault

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
    p.apply_epoch(batch1, epoch=1)
    # the flush ran in the background: its failure surfaces at the drain
    with pytest.raises(RuntimeError, match="injected"):
        p.finalize()
    assert p.conv_dates.last_epoch("gold_conv_dates") == 1
    assert p.daily.last_epoch("gold_daily") == 0

    # same-process retry: bronze/silver skip idempotently; the derived
    # flush replays the recorded month set and drops the vacated date
    p.apply_epoch(batch1, epoch=1)
    p.finalize()
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


def test_relay_never_writes_sqlconf(spark, tmp_path, monkeypatch):
    """The relay and every background thread it starts (overlap pool,
    derived flush, SCD2, compaction) plan under the session conf as
    ``get_spark`` built it: a load epoch and two sparse auto-mode epochs
    with SCD2, background flush and background compaction, finalize and the
    observability flush make no ``spark.conf.set`` call at all, leave the
    shuffle width and AQE as they were, and the background compaction
    still folds the deltas."""
    from pyspark.sql.conf import RuntimeConfig

    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_conv_meta_changes,
        generate_sparse_update_epochs,
    )

    n_convs, per_epoch = 40, 4 * 2
    load = generate_transcript_changes(
        spark, n_conversations=n_convs, turns_per_conv=5,
        update_ratio=0.0, delete_ratio=0.0, seed=23,
    )
    updates = generate_sparse_update_epochs(
        spark, n_conversations=n_convs, turns_per_conv=5, n_epochs=2,
        convs_per_epoch=4, updates_per_conv=2, delete_frac=0.1,
        window_frac=0.2, seed=23,
    )
    sparse = [updates.where(F.col("op_ordinal") <= per_epoch),
              updates.where(F.col("op_ordinal") > per_epoch)]
    meta = generate_conv_meta_changes(spark, n_conversations=n_convs, seed=23)
    meta_lsns = sorted(r.lsn for r in meta.where("op != 'I'").select("lsn").collect())
    mid = meta_lsns[len(meta_lsns) // 2]
    meta_batches = [meta.where("op = 'I'"),
                    meta.where(f"op != 'I' AND lsn < {mid}"),
                    meta.where(f"op != 'I' AND lsn >= {mid}")]

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    p = MedallionPipeline.create(
        spark, str(tmp_path / "m"), n_buckets=4, layer_mode="auto",
        compact_every=3, compact_delta_depth=10**6,
    )
    for epoch, batch in enumerate([load, *sparse]):
        p.apply_epoch(batch, epoch=epoch)
        p.apply_meta_epoch(meta_batches[epoch], epoch=epoch)
    p.finalize()
    p.flush_observability()

    assert calls == []
    assert {k: spark.conf.get(k) for k in keys} == before
    # epoch 2 queued a compaction of bronze and silver; it ran on the
    # maintenance thread and left no deltas behind
    assert p.bronze.delta_partition_values() == []
    assert p.silver.delta_partition_values() == []
    assert p.bronze.current_version() == 4  # 3 epochs + 1 compaction
    n_keys = p.bronze.read().count()
    assert p.read_silver().count() == n_keys


def test_async_flush_failure_surfaces_on_next_epoch(
    spark, tmp_path, tiny_batch, monkeypatch
):
    """A background derived-flush failure must surface on the next
    drain point (next flush submit / finalize), not vanish."""
    p = MedallionPipeline.create(
        spark, str(tmp_path / "m"), n_buckets=4, derived_every=1,
    )

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

    for read in (lambda p: bronze_plan.read_transcripts(p.bronze), MedallionPipeline.read_silver):
        a = read(p1).orderBy("conv_id", "turn_idx").select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).toPandas()
        b = read(p2b).orderBy("conv_id", "turn_idx").select(
            "conv_id", "turn_idx", "role", "text", "tool", "ts"
        ).toPandas()
        import pandas as pd

        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    # _gen provenance legitimately differs across chunkings — compare
    # business columns only
    sa = p1.summary.read().drop("_gen").orderBy("conv_id").toPandas()
    sb = p2b.summary.read().drop("_gen").orderBy("conv_id").toPandas()
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
    a = bronze_plan.read_transcripts(p_ref.bronze).orderBy("conv_id", "turn_idx") \
        .select(*cols).toPandas()
    b = bronze_plan.read_transcripts(p2.bronze).orderBy("conv_id", "turn_idx") \
        .select(*cols).toPandas()
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
        s = p.read_summary().drop("_gen").orderBy("conv_id").toPandas()
        d = p.read_daily().drop("_gen").orderBy("business_date").toPandas()
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


def test_epoch_metrics_count_raw_batch_rows(spark, tmp_path):
    """``n_events`` is the batch's row count, redeliveries and superseded
    updates included; ``n_keys`` counts the keys left after dedup."""
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    rows = [
        _row("I", 1, "cA", 0, "user", "hello"),
        _row("I", 1, "cA", 0, "user", "hello"),  # redelivered
        _row("I", 2, "cB", 0, "user", "first"),
        _row("U", 3, "cB", 0, "user", "second"),
        _row("U", 4, "cB", 0, "user", "third"),
    ]
    batch = spark.createDataFrame(rows, CHANGE_SCHEMA)
    m = p.apply_epoch(batch, epoch=0)
    assert (m.n_events, m.n_keys) == (5, 2)
    assert m.events_per_sec == m.n_events / m.total_secs
    p.flush_observability()
    assert p.metrics.read().select("n_events", "n_keys").collect() == [(5, 2)]
    # a replayer reports the same raw rows as its events
    p2 = MedallionPipeline.create(spark, str(tmp_path / "r"), n_buckets=4)
    report = CheckpointedReplayer(p2, str(tmp_path / "ck")).run(batch, n_chunks=1)
    assert report.events == 5


def test_create_and_load_reject_unsupported_modes(spark, tmp_path):
    """Unknown and retired modes fail at the engine boundary instead of
    silently running as something else; bronze is merge-on-read only."""
    for kwargs in ({"layer_mode": "zebra"}, {"layer_mode": "mor"}, {"layer_mode": "turn"},
                   {"bronze_mode": "turn"}, {"bronze_mode": "cow"}):
        with pytest.raises(ValueError, match="_mode must be"):
            MedallionPipeline.create(spark, str(tmp_path / "bad"), n_buckets=2, **kwargs)
    assert not (tmp_path / "bad").exists()

    root = str(tmp_path / "lake")
    p = MedallionPipeline.create(spark, root, n_buckets=2, with_gold=False, with_daily=False,
                                 bronze_mode="mor")
    # a lake written with the retired generation-MoR derived layers
    p.silver.set_properties({"layer_mode": "mor"})
    with pytest.raises(ValueError, match="'mor', which is no longer supported"):
        MedallionPipeline.load(spark, root)


def test_overlapped_sparse_epoch_times_bronze_on_its_own_thread(spark, tmp_path, monkeypatch):
    """Under the bronze/silver overlap each layer books its own wall:
    a bronze apply that takes 0.5 s shows in ``bronze_secs`` even though
    it ran on a pool thread beside the silver refresh."""
    import threading
    import time

    from maritime_activity_reports_cdc_spark.plans import silver as silver_plan
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_sparse_update_epochs,
    )

    load = generate_transcript_changes(
        spark, n_conversations=20, turns_per_conv=4,
        update_ratio=0.0, delete_ratio=0.0, seed=5,
    )
    sparse = generate_sparse_update_epochs(
        spark, n_conversations=20, turns_per_conv=4, n_epochs=1,
        convs_per_epoch=1, updates_per_conv=1, delete_frac=0.0,
        window_frac=0.2, seed=5,
    )
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=2, layer_mode="auto")
    p.apply_epoch(load, epoch=0)
    # the dense/sparse routing reads the summary table's file stats
    p.finalize()

    bronze_threads, turn_calls = [], []
    real_apply = bronze_plan.apply_transcript_batch
    real_turn = silver_plan.refresh_silver_turn

    def slow_apply(*args, **kwargs):
        bronze_threads.append(threading.current_thread())
        time.sleep(0.5)
        return real_apply(*args, **kwargs)

    def turn(*args, **kwargs):
        turn_calls.append(1)
        return real_turn(*args, **kwargs)

    monkeypatch.setattr(bronze_plan, "apply_transcript_batch", slow_apply)
    monkeypatch.setattr(silver_plan, "refresh_silver_turn", turn)
    m = p.apply_epoch(sparse, epoch=1)
    assert turn_calls, "the epoch must take the sparse turn path"
    assert bronze_threads and bronze_threads[0] is not threading.main_thread()
    assert m.bronze_secs >= 0.5
    assert m.silver_secs > 0 and m.total_secs >= m.bronze_secs


def test_legacy_copy_on_write_lake_runs_merge_on_read(spark, tmp_path):
    """A lake written when bronze had a copy-on-write mode — bronze
    stamped ``apply_mode='cow'`` and holding base files only — loads
    unchanged: later epochs append bronze deltas, ``compact_all`` folds
    them, and bronze equals the naive fold of the log throughout."""
    changes = generate_transcript_changes(
        spark, n_conversations=20, turns_per_conv=5, update_ratio=0.3,
        delete_ratio=0.1, duplicate_ratio=0.05, seed=31,
    ).cache()
    lo, hi = changes.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    chunks = [changes.where((F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step))
              for i in range(3)]
    expected = naive_replay(changes)

    root = str(tmp_path / "lake")
    old = MedallionPipeline.create(spark, root, n_buckets=4)
    old.apply_epoch(chunks[0], epoch=0)
    old.bronze.set_properties({"apply_mode": "cow"})
    old.compact_all()
    assert old.bronze.delta_partition_values() == []

    p = MedallionPipeline.load(spark, root)
    for epoch in (1, 2):
        p.apply_epoch(chunks[epoch], epoch=epoch)
    assert p.bronze.delta_partition_values(), "epochs after load append bronze deltas"
    assert_states_equal(table_state(bronze_plan.read_transcripts(p.bronze)), expected)
    p.compact_all()
    assert p.bronze.delta_partition_values() == []
    assert_states_equal(table_state(p.bronze.read()), expected)
    assert p.read_silver().count() == len(expected)
    changes.unpersist()


def test_legacy_turn_lake_loads_as_auto(spark, tmp_path, monkeypatch):
    """A lake written by the retired forced-turn mode (silver stamped
    ``layer_mode='turn'``, turn deltas outstanding) loads as ``auto``:
    the stamp is rewritten, reads resolve the deltas, and a dense
    epoch's whole-bucket rewrite folds them — matching a CoW pipeline
    fed the same log."""
    changes = generate_transcript_changes(
        spark, n_conversations=12, turns_per_conv=4, update_ratio=0.3,
        delete_ratio=0.1, seed=37,
    ).cache()
    lo, hi = changes.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    chunks = [changes.where(F.col("lsn") <= mid), changes.where(F.col("lsn") > mid)]
    cow = MedallionPipeline.create(spark, str(tmp_path / "cow"), n_buckets=2)
    for epoch, chunk in enumerate(chunks):
        cow.apply_epoch(chunk, epoch=epoch)

    root = str(tmp_path / "lake")
    with monkeypatch.context() as m:
        m.setattr(MedallionPipeline, "_dense_batch", lambda self, affected: False)
        old = MedallionPipeline.create(spark, root, n_buckets=2, layer_mode="auto",
                                       compact_every=0, compact_delta_depth=10**6)
        old.apply_epoch(chunks[0], epoch=0)
        old.finalize()
    old.silver.set_properties({"layer_mode": "turn"})
    assert old.silver.delta_partition_values()

    p = MedallionPipeline.load(spark, root)
    assert p.layer_mode == "auto" and p.silver.properties()["layer_mode"] == "auto"
    monkeypatch.setattr(MedallionPipeline, "_dense_batch", lambda self, affected: True)
    p.apply_epoch(chunks[1], epoch=1)
    assert p.silver.delta_partition_values() == [], "the dense rewrite folds turn deltas"

    for cols, a_df, b_df in [
        (["conv_id", "turn_idx", "text", "gap_secs", "turn_gap", "is_role_transition"],
         cow.read_silver(), p.read_silver()),
        (["conv_id", "n_turns", "total_tokens", "risk_level"],
         cow.read_summary(), p.read_summary()),
    ]:
        a = a_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
        b = b_df.select(cols).toPandas().sort_values(cols[:2]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    changes.unpersist()


def test_legacy_rank_column_lake_replays_like_a_fresh_lake(spark, tmp_path):
    """Lakes written before ``_rank`` was dropped keep that always-1
    column in their silver and gold schemas. Such a lake loads and
    replays a dense and a sparse epoch: writes fill ``_rank`` with null,
    and every business column matches a fresh lake fed the same log. A
    fresh lake has no ``_rank`` at all."""
    from pyspark.sql import types as T

    changes = generate_transcript_changes(
        spark, n_conversations=12, turns_per_conv=4, update_ratio=0.3,
        delete_ratio=0.1, seed=41,
    ).cache()
    mutations = changes.where(F.col("op") != "I")
    two = [r.conv_id for r in mutations.select("conv_id").distinct().orderBy("conv_id").take(2)]
    late = (F.col("op") != "I") & F.col("conv_id").isin(two)
    chunks = [changes.where(~late), changes.where(late)]

    def replay(p):
        for epoch, chunk in enumerate(chunks):
            p.apply_epoch(chunk, epoch=epoch)
            p.finalize()  # so the second, two-conversation epoch routes sparse
        assert p.silver.delta_partition_values(), "the sparse epoch appends turn deltas"
        return p

    fresh = replay(MedallionPipeline.create(
        spark, str(tmp_path / "fresh"), n_buckets=2, layer_mode="auto"))
    legacy_root = str(tmp_path / "legacy")
    old = MedallionPipeline.create(spark, legacy_root, n_buckets=2, layer_mode="auto")
    for table in (old.silver, old.summary, old.daily):
        table.add_columns([T.StructField("_rank", T.IntegerType(), True)])
    legacy = replay(MedallionPipeline.load(spark, legacy_root))

    for table in (fresh.silver, fresh.summary, fresh.daily):
        assert "_rank" not in table.schema().fieldNames()
    for cols, a_df, b_df in [
        (["conv_id", "turn_idx"], fresh.read_silver(), legacy.read_silver()),
        (["conv_id"], fresh.read_summary(), legacy.read_summary()),
        (["business_date"], fresh.read_daily(), legacy.read_daily()),
    ]:
        assert "_rank" in b_df.columns
        assert b_df.where(F.col("_rank").isNotNull()).count() == 0
        business = [c for c in a_df.columns if c != "_gen"]
        a = a_df.select(business).toPandas().sort_values(cols).reset_index(drop=True)
        b = b_df.select(business).toPandas().sort_values(cols).reset_index(drop=True)
        assert len(a) > 0
        pd.testing.assert_frame_equal(a, b, check_dtype=False)
    changes.unpersist()


def test_dense_cow_silver_refresh_is_one_replace_over_one_exchange(
    spark, tmp_path, monkeypatch
):
    """A dense epoch of a ``cow`` pipeline rewrites silver's affected
    buckets from one shuffle: the bucket window that dedups pre-apply
    bronze ∪ batch, reused by the enrichment window and by the
    partitioned replace (marked pre-partitioned)."""
    from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

    load = [_row("I", i + 1, f"c{i % 4}", i // 4, "user", f"t{i}") for i in range(12)]
    update = [_row("U", 100 + i, f"c{i}", 0, "user", f"u{i}") for i in range(4)]
    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=2, compact_every=0)
    p.apply_epoch(spark.createDataFrame(load, CHANGE_SCHEMA), epoch=0)
    p.finalize()  # the spies below see epoch 1 alone

    dense, calls = [], []
    real_dense = MedallionPipeline._dense_batch
    real_replace = LakeTable.replace_partitions

    def spy_dense(self, affected):
        dense.append(real_dense(self, affected))
        return dense[-1]

    def spy_replace(self, df, *args, **kwargs):
        if self is p.silver:
            calls.append((shuffle_exchanges(df), kwargs.get("pre_partitioned")))
        return real_replace(self, df, *args, **kwargs)

    monkeypatch.setattr(MedallionPipeline, "_dense_batch", spy_dense)
    monkeypatch.setattr(LakeTable, "replace_partitions", spy_replace)
    p.apply_epoch(spark.createDataFrame(update, CHANGE_SCHEMA), epoch=1)
    assert dense[0] is True, "every conversation is touched: the epoch is dense"
    assert calls == [(1, True)]
