"""M1 end-to-end slice: change-log replay vs naive oracle (SURVEY.md §7.1).

The decisive test the reference lacks — full replay under chunking,
duplicate redelivery, restart, and delete propagation, compared against an
engine-independent single-threaded fold (FIXTURES.md §6).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.operators.apply import dedup_latest
from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.sources.generator import generate_transcript_changes
from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

from tests.helpers import (
    BRONZE_ORIGINS,
    assert_states_equal,
    create_bronze,
    naive_replay,
    shuffle_exchanges,
    table_state,
)


@pytest.fixture(scope="module")
def changes(spark):
    df = generate_transcript_changes(
        spark,
        n_conversations=40,
        turns_per_conv=12,
        update_ratio=0.4,
        delete_ratio=0.08,
        duplicate_ratio=0.1,
        seed=7,
    ).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def expected(changes):
    return naive_replay(changes)


def _replay(spark, tmp_path, changes, n_chunks):
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    stats = bronze.replay_change_log(table, changes, n_chunks=n_chunks)
    return table, stats


def _state(table):
    return table_state(bronze.read_transcripts(table))


def test_single_chunk_matches_oracle(spark, tmp_path, changes, expected):
    table, stats = _replay(spark, tmp_path, changes, n_chunks=1)
    assert stats.epochs == 1
    assert_states_equal(_state(table), expected)


def test_multi_chunk_matches_oracle(spark, tmp_path, changes, expected):
    table, stats = _replay(spark, tmp_path, changes, n_chunks=7)
    assert stats.epochs >= 2
    assert_states_equal(_state(table), expected)


def test_replay_is_idempotent(spark, tmp_path, changes, expected):
    """Re-running already-committed epochs is a no-op (exactly-once)."""
    table, _ = _replay(spark, tmp_path, changes, n_chunks=4)
    v_before = table.current_version()
    stats2 = bronze.replay_change_log(table, changes, n_chunks=4)
    assert all(not r.applied for r in stats2.results)
    assert table.current_version() == v_before
    assert_states_equal(_state(table), expected)


def test_restart_mid_replay(spark, tmp_path, changes, expected):
    """Crash after chunk 2 of 5, restart from scratch: epochs 0-1 skip,
    2-4 apply; final state identical."""
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=8)
    lsn_lo, lsn_hi = changes.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    span = lsn_hi - lsn_lo + 1
    step = (span + 4) // 5
    for i in range(2):  # partial run, then "crash"
        chunk = changes.where(
            (F.col("lsn") >= lsn_lo + i * step) & (F.col("lsn") < lsn_lo + (i + 1) * step)
        )
        bronze.apply_transcript_batch(table, chunk, epoch=i)
    resumed = LakeTable.load(spark, str(tmp_path / "t"))
    stats = bronze.replay_change_log(resumed, changes, n_chunks=5)
    assert [r.applied for r in stats.results][:2] == [False, False]
    assert any(r.applied for r in stats.results[2:])
    assert_states_equal(_state(resumed), expected)


def test_deletes_propagate(spark, tmp_path, changes):
    """G7 fix: keys whose last change is D are absent from the target."""
    table, _ = _replay(spark, tmp_path, changes, n_chunks=1)
    last = dedup_latest(changes)
    deleted_keys = last.where(F.col("op") == "D").select("conv_id", "turn_idx")
    n_deleted = deleted_keys.count()
    assert n_deleted > 0, "fixture must contain effective deletes"
    present = bronze.read_transcripts(table).join(deleted_keys, ["conv_id", "turn_idx"], "inner")
    assert present.count() == 0


def test_same_key_multi_change_in_one_batch(spark, tmp_path):
    """G1 fix: a batch with several changes for one key applies the
    max-(lsn, op_ordinal) winner (the reference's MERGE would throw)."""
    import datetime as dt

    rows = [
        ("I", 10, 0, dt.datetime(2025, 1, 1), "c1", 0, "user", "v0", None, dt.datetime(2025, 1, 1)),
        ("U", 11, 0, dt.datetime(2025, 1, 1), "c1", 0, "user", "v1", None, dt.datetime(2025, 1, 1)),
        ("U", 11, 1, dt.datetime(2025, 1, 1), "c1", 0, "user", "v2", None, dt.datetime(2025, 1, 1)),
        ("U", 12, 0, dt.datetime(2025, 1, 1), "c1", 0, "user", "v3", None, dt.datetime(2025, 1, 1)),
        ("I", 10, 0, dt.datetime(2025, 1, 1), "c2", 0, "user", "x0", None, dt.datetime(2025, 1, 1)),
        ("D", 13, 0, dt.datetime(2025, 1, 1), "c2", 0, None, None, None, None),
    ]
    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    batch = spark.createDataFrame(rows, CHANGE_SCHEMA)
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    bronze.apply_transcript_batch(table, batch, epoch=0)
    state = bronze.read_transcripts(table).select("conv_id", "turn_idx", "text").collect()
    assert {(r.conv_id, r.turn_idx, r.text) for r in state} == {("c1", 0, "v3")}


@pytest.mark.parametrize("origin", BRONZE_ORIGINS)
def test_out_of_order_older_update_cannot_resurrect_deleted_key(spark, tmp_path, origin):
    """Persistent tombstones: a D at lsn=20 applied in epoch 0 must keep
    the key dead when a LATER batch carries an older U at lsn=10 — the
    tombstone survives compaction into the base — on a fresh table and
    on one carrying the legacy copy-on-write mode property alike. Removes
    the old 'non-decreasing LSN order' apply contract."""
    import datetime as dt

    from maritime_activity_reports_cdc_spark.operators.apply import compact
    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    ts = dt.datetime(2025, 1, 1)
    epoch0 = spark.createDataFrame(
        [
            ("I", 5, 0, ts, "c1", 0, "user", "v0", None, ts),
            ("D", 20, 0, ts, "c1", 0, None, None, None, None),
            ("I", 6, 0, ts, "c2", 0, "user", "keep", None, ts),
        ],
        CHANGE_SCHEMA,
    )
    epoch1 = spark.createDataFrame(
        [("U", 10, 0, ts, "c1", 0, "user", "stale", None, ts)], CHANGE_SCHEMA
    )
    table = create_bronze(spark, str(tmp_path / "t"), 4, origin)
    bronze.apply_transcript_batch(table, epoch0, epoch=0)
    compact(table)  # tombstone must survive the fold into the base
    bronze.apply_transcript_batch(table, epoch1, epoch=1)
    state = {(r.conv_id, r.turn_idx): r.text for r in bronze.read_transcripts(table).collect()}
    assert state == {("c2", 0): "keep"}, state
    # and lake-level reads never surface the tombstone row
    assert table.read(deltas="exclude").where(F.col("conv_id") == "c1").count() == 0
    # the tombstone IS physically present until the horizon passes ...
    raw = table.read(deltas="include", tombstones="include")
    assert raw.where((F.col("conv_id") == "c1") & (F.col("op") == "D")).count() >= 1
    # ... and compaction with a passed LSN horizon physically drops it
    bronze.apply_transcript_batch(
        table,
        spark.createDataFrame([("U", 30, 0, ts, "c2", 0, "user", "keep2", None, ts)], CHANGE_SCHEMA),
        epoch=2,
    )
    compact(table, drop_tombstones_below_lsn=21)
    raw2 = table.read(deltas="include", tombstones="include")
    assert raw2.where(F.col("op") == "D").count() == 0


def test_empty_batch_commits_epoch(spark, tmp_path, changes):
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    empty = changes.where(F.lit(False))
    res = bronze.apply_transcript_batch(table, empty, epoch=0)
    assert res.applied and res.n_keys == 0
    res2 = bronze.apply_transcript_batch(table, empty, epoch=0)
    assert not res2.applied


def test_apply_is_one_delta_append_over_one_exchange(spark, tmp_path, monkeypatch):
    """The one apply path: the batch winners reach ``append_deltas``
    marked pre-partitioned, through a plan whose only exchange is the
    bucket window of the dedup — the partitioned delta write reuses it."""
    import datetime as dt

    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    ts = dt.datetime(2025, 1, 1)
    batch = spark.createDataFrame(
        [
            ("I", 1, 0, ts, "c1", 0, "user", "a", None, ts),
            ("U", 2, 0, ts, "c1", 0, "user", "b", None, ts),
            ("I", 3, 0, ts, "c2", 0, "user", "c", None, ts),
            ("D", 4, 0, ts, "c3", 0, None, None, None, None),
        ],
        CHANGE_SCHEMA,
    )
    calls = []
    real = LakeTable.append_deltas

    def spy(self, df, *args, **kwargs):
        plan = df._jdf.queryExecution().executedPlan().treeString()
        calls.append((plan, kwargs.get("pre_partitioned")))
        return real(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "append_deltas", spy)
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    res = bronze.apply_transcript_batch(table, batch, epoch=0)
    assert res.applied and (res.n_insert_update, res.n_delete) == (2, 1)
    assert len(calls) == 1
    plan, pre_partitioned = calls[0]
    assert pre_partitioned is True
    assert plan.count("Exchange") == 1, plan
    # nothing was rewritten: the batch landed as delta files only
    assert table.delta_partition_values()
    assert not any(table.snapshot().files.values())


def test_bucketed_compaction_is_one_replace_over_one_exchange(spark, tmp_path, monkeypatch):
    """Compacting a bucket-partitioned bronze folds base ∪ deltas through
    one shuffle: the bucket window of the dedup, which the partitioned
    replace reuses (it is marked pre-partitioned)."""
    from maritime_activity_reports_cdc_spark.operators.apply import compact

    changes = generate_transcript_changes(
        spark, n_conversations=12, turns_per_conv=4, update_ratio=0.3,
        delete_ratio=0.1, seed=43,
    )
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    bronze.replay_change_log(table, changes, n_chunks=2)
    assert table.delta_partition_values()

    calls = []
    real = LakeTable.replace_partitions

    def spy(self, df, *args, **kwargs):
        calls.append((shuffle_exchanges(df), kwargs.get("pre_partitioned")))
        return real(self, df, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "replace_partitions", spy)
    assert compact(table) is True
    assert calls == [(1, True)]
    assert table.delta_partition_values() == []


def test_base_only_read_of_a_merge_on_read_table_raises(spark, tmp_path):
    """A read that leaves ``deltas`` unset refuses partitions with
    outstanding delta files instead of returning the stale base; an
    explicit ``deltas='exclude'`` still reads the base, and the resolved
    read returns the applied rows."""
    import datetime as dt

    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    ts = dt.datetime(2025, 1, 1)
    batch = spark.createDataFrame(
        [("I", 1, 0, ts, "c1", 0, "user", "a", None, ts),
         ("I", 2, 0, ts, "c2", 0, "user", "b", None, ts)],
        CHANGE_SCHEMA,
    )
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    bronze.apply_transcript_batch(table, batch, epoch=0)
    with_deltas = table.delta_partition_values()
    assert with_deltas
    with pytest.raises(ValueError, match="read_merged"):
        table.read()
    with pytest.raises(ValueError, match="read_merged"):
        table.read_partitions(with_deltas)
    assert table.read(deltas="exclude").count() == 0
    assert table.read_partitions(with_deltas, deltas="exclude").count() == 0
    assert sorted(r.conv_id for r in bronze.read_transcripts(table).collect()) == ["c1", "c2"]
