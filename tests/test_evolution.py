"""Additive schema evolution mid-replay (FIXTURES.md §4, north_star):
new columns appear above a cutover LSN, target schema grows, rows below
the cutover read as null — and the full replay still matches the oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.sources.generator import generate_evolved_changes

from tests.helpers import assert_states_equal, naive_replay


def test_mid_replay_evolution(spark, tmp_path):
    changes, cutover = generate_evolved_changes(
        spark, n_conversations=30, turns_per_conv=8, cutover_frac=0.5, seed=9,
        update_ratio=0.3, delete_ratio=0.05,
    )
    changes = changes.cache()

    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    pre = changes.where(F.col("lsn") < cutover).drop("tool_args", "lang")
    post = changes.where(F.col("lsn") >= cutover)

    bronze.apply_transcript_batch(table, pre, epoch=0)
    cols_before = {f.name for f in table.schema().fields}
    assert "lang" not in cols_before

    bronze.apply_transcript_batch(table, post, epoch=1)
    cols_after = [f.name for f in table.schema().fields]
    assert cols_after[-2:] == ["tool_args", "lang"]

    state = bronze.read_transcripts(table)
    # pre-cutover rows (not later updated) null-backfill the new columns
    untouched_pre = state.where(F.col("lsn") < cutover)
    assert untouched_pre.where(F.col("lang").isNotNull()).count() == 0
    post_rows = state.where(F.col("lsn") >= cutover)
    assert post_rows.where(F.col("lang").isNotNull()).count() == post_rows.count()

    # base-column state still matches the oracle fold
    expected = naive_replay(changes.drop("tool_args", "lang"))
    actual = (
        state.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert_states_equal(actual, expected)

    # time travel: the pre-evolution snapshot still reads with the old schema
    old_snap_version = 1  # create=0, first apply=1
    old = table.read(version=old_snap_version, deltas="include")
    assert "lang" not in old.columns
    changes.unpersist()


def test_evolution_in_mor_mode(spark, tmp_path):
    changes, cutover = generate_evolved_changes(
        spark, n_conversations=20, turns_per_conv=6, cutover_frac=0.5, seed=10,
    )
    table = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    bronze.apply_transcript_batch(
        table, changes.where(F.col("lsn") < cutover).drop("tool_args", "lang"), epoch=0
    )
    bronze.apply_transcript_batch(table, changes.where(F.col("lsn") >= cutover), epoch=1)
    from maritime_activity_reports_cdc_spark.operators.apply import compact, read_merged

    merged = read_merged(table)
    assert "lang" in merged.columns
    assert merged.where(F.col("lang").isNotNull()).count() > 0
    compact(table)
    assert "lang" in table.read().columns
