"""Change-data-feed producer tests: per-commit classification on both
apply modes, maintenance-commit neutrality, durable-offset tailing, and
the round-trip law (replaying a table's own feed reproduces the table).

Reference analog: the pipeline consumes Delta CDF with the same
_change_type taxonomy (silver/cdf_processor.py:255-275 in
/root/reference); here OUR tables are the CDF source.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.operators.apply import compact
from maritime_activity_reports_cdc_spark.operators.changefeed import (
    CHANGE_TYPE_COL,
    COMMIT_VERSION_COL,
    ChangeFeedTail,
    changes_to_batch,
    read_changes,
)
from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.sources.generator import (
    generate_transcript_changes,
)
from tests.helpers import assert_states_equal, table_state

CH_SCHEMA = (
    "op string, lsn long, op_ordinal int, commit_ts timestamp, conv_id string, "
    "turn_idx int, role string, text string, tool string, ts timestamp"
)

TS = datetime.datetime(2025, 1, 1, 0, 0, 0)


def _batch(spark, rows):
    return spark.createDataFrame(rows, CH_SCHEMA)


def _epoch0(spark):
    return _batch(spark, [
        ("I", 100, 0, TS, "c1", 0, "system", "s0", None, TS),
        ("I", 101, 0, TS, "c1", 1, "user", "u1", None, TS),
        ("I", 102, 0, TS, "c9", 0, "system", "s9", None, TS),
        ("I", 103, 0, TS, "c9", 1, "user", "u9", None, TS),
    ])


def _epoch1(spark):
    return _batch(spark, [
        ("U", 200, 0, TS, "c1", 0, "system", "s0-v2", None, TS),   # update
        ("D", 201, 1, TS, "c1", 1, None, None, None, None),        # delete
        ("I", 202, 2, TS, "c2", 0, "system", "new", None, TS),     # insert
        ("D", 203, 3, TS, "c7", 5, None, None, None, None),        # delete of absent key
    ])


def _changes_map(df):
    return {
        (r.conv_id, r.turn_idx, r[CHANGE_TYPE_COL]): r
        for r in df.collect()
    }


@pytest.fixture(scope="module", params=["cow", "mor"])
def fed_table(request, spark, tmp_path_factory):
    root = tmp_path_factory.mktemp(f"cdf_{request.param}")
    t = bronze.create_transcripts_table(
        spark, str(root / "t"), n_buckets=4, apply_mode=request.param
    )
    bronze.apply_transcript_batch(t, _epoch0(spark), epoch=0)
    v1 = t.current_version()
    bronze.apply_transcript_batch(t, _epoch1(spark), epoch=1)
    v2 = t.current_version()
    return t, v1, v2


def test_initial_commit_is_all_inserts(fed_table):
    t, v1, _ = fed_table
    ch = read_changes(t, 0, v1)
    assert {r[CHANGE_TYPE_COL] for r in ch.collect()} == {"insert"}
    assert ch.count() == 4
    assert {r[COMMIT_VERSION_COL] for r in ch.collect()} == {v1}


def test_second_commit_classifies_update_delete_insert(fed_table):
    t, v1, v2 = fed_table
    m = _changes_map(read_changes(t, v1, v2))
    assert set(m) == {
        ("c1", 0, "update_preimage"),
        ("c1", 0, "update_postimage"),
        ("c1", 1, "delete"),
        ("c2", 0, "insert"),
    }  # the delete of absent (c7,5) emits nothing
    assert m[("c1", 0, "update_preimage")].text == "s0"
    assert m[("c1", 0, "update_postimage")].text == "s0-v2"
    assert m[("c1", 1, "delete")].text == "u1"  # preimage payload
    assert m[("c2", 0, "insert")].text == "new"


def test_range_spans_commits_with_versions(fed_table):
    t, v1, v2 = fed_table
    ch = read_changes(t, 0, v2)
    assert ch.count() == 8
    per_v = {
        r[COMMIT_VERSION_COL]
        for r in ch.where(F.col(CHANGE_TYPE_COL) == "insert").collect()
    }
    assert per_v == {v1, v2}


def test_compaction_commit_emits_nothing(fed_table):
    t, _, v2 = fed_table
    if t.properties().get("apply_mode") != "mor":
        pytest.skip("compaction applies to MoR tables")
    assert compact(t)
    v3 = t.current_version()
    assert v3 > v2
    assert read_changes(t, v2, v3).count() == 0


def test_cow_and_mor_feeds_agree(spark, tmp_path):
    feeds = {}
    for mode in ("cow", "mor"):
        t = bronze.create_transcripts_table(
            spark, str(tmp_path / mode), n_buckets=4, apply_mode=mode
        )
        bronze.apply_transcript_batch(t, _epoch0(spark), epoch=0)
        bronze.apply_transcript_batch(t, _epoch1(spark), epoch=1)
        feeds[mode] = {
            (r.conv_id, r.turn_idx, r[CHANGE_TYPE_COL], r.text, r.role)
            for r in read_changes(t, 0).collect()
        }
    assert feeds["cow"] == feeds["mor"]


def test_tail_poll_ack_resume(spark, tmp_path):
    t = bronze.create_transcripts_table(
        spark, str(tmp_path / "t"), n_buckets=4, apply_mode="mor"
    )
    ck = str(tmp_path / "offsets.json")
    tail = ChangeFeedTail(t, ck)
    assert tail.poll() is None  # only the create commit exists

    bronze.apply_transcript_batch(t, _epoch0(spark), epoch=0)
    ch, upto = tail.poll()
    assert ch.count() == 4 and upto == t.current_version()
    # not acked -> redelivered
    ch2, upto2 = tail.poll()
    assert upto2 == upto and ch2.count() == 4
    tail.ack(upto)
    assert tail.poll() is None

    bronze.apply_transcript_batch(t, _epoch1(spark), epoch=1)
    ch3, upto3 = tail.poll()
    assert upto3 == t.current_version()
    assert {r[CHANGE_TYPE_COL] for r in ch3.collect()} == {
        "insert", "delete", "update_preimage", "update_postimage"
    }
    tail.ack(upto3)
    # a NEW tail object resumes from the durable offset
    assert ChangeFeedTail(t, ck).poll() is None


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_feed_round_trip_replicates_table(spark, tmp_path, mode):
    """The law that makes the feed a real medallion transport: consuming
    a table's own change feed and applying each polled batch to an empty
    replica reproduces the source state exactly."""
    src = bronze.create_transcripts_table(
        spark, str(tmp_path / "src"), n_buckets=4, apply_mode=mode
    )
    log = generate_transcript_changes(
        spark, n_conversations=30, turns_per_conv=6,
        update_ratio=0.3, delete_ratio=0.1, duplicate_ratio=0.05, seed=17,
    )
    chunks = log.randomSplit([1.0, 1.0, 1.0], seed=3)
    replica = bronze.create_transcripts_table(
        spark, str(tmp_path / "dst"), n_buckets=4, apply_mode="cow"
    )
    tail = ChangeFeedTail(src, str(tmp_path / "off.json"))
    for i, chunk in enumerate(chunks):
        bronze.apply_transcript_batch(src, chunk, epoch=i)
        ch, upto = tail.poll()
        bronze.apply_transcript_batch(replica, changes_to_batch(ch), epoch=upto)
        tail.ack(upto)
    assert_states_equal(
        table_state(bronze.read_transcripts(replica)),
        table_state(bronze.read_transcripts(src)),
    )


def test_schema_evolution_null_backfills_old_commits(spark, tmp_path):
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_evolved_changes,
    )

    t = bronze.create_transcripts_table(
        spark, str(tmp_path / "t"), n_buckets=4, apply_mode="cow"
    )
    bronze.apply_transcript_batch(t, _epoch0(spark), epoch=0)
    ev, _ = generate_evolved_changes(
        spark, n_conversations=5, turns_per_conv=3, seed=9
    )
    bronze.apply_transcript_batch(t, ev, epoch=1)
    ch = read_changes(t, 0)
    assert "lang" in ch.columns
    # rows from the pre-evolution commit carry null for the new column
    old_rows = ch.where(F.col(COMMIT_VERSION_COL) == 1)
    assert old_rows.where(F.col("lang").isNotNull()).count() == 0


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_stale_update_after_tombstone_emits_nothing(spark, tmp_path, mode):
    """The feed must reproduce the apply's arbitration: an out-of-order
    update older than a retained tombstone neither resurrects the key
    nor appears in the feed (on either apply mode)."""
    t = bronze.create_transcripts_table(
        spark, str(tmp_path / "t"), n_buckets=4, apply_mode=mode
    )
    bronze.apply_transcript_batch(
        t, _batch(spark, [("I", 100, 0, TS, "c1", 0, "system", "s0", None, TS)]),
        epoch=0,
    )
    bronze.apply_transcript_batch(
        t, _batch(spark, [("D", 300, 0, TS, "c1", 0, None, None, None, None)]),
        epoch=1,
    )
    v_before = t.current_version()
    bronze.apply_transcript_batch(
        t, _batch(spark, [("U", 200, 0, TS, "c1", 0, "system", "stale", None, TS)]),
        epoch=2,
    )
    assert read_changes(t, v_before).count() == 0
    assert bronze.read_transcripts(t).count() == 0  # key stays deleted


def test_feed_relay_drives_downstream_medallion(spark, tmp_path):
    """Lake-to-lake hop: a downstream medallion pipeline fed ONLY by the
    upstream table's change feed converges to the same silver state as a
    pipeline fed the raw change log directly; redelivered ranges no-op
    through the downstream epoch guard (exactly-once across crashes)."""
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.streaming.feedrelay import FeedRelay

    up = bronze.create_transcripts_table(
        spark, str(tmp_path / "up"), n_buckets=4, apply_mode="mor"
    )
    log = generate_transcript_changes(
        spark, n_conversations=25, turns_per_conv=6,
        update_ratio=0.3, delete_ratio=0.1, seed=19,
    )
    chunks = log.randomSplit([1.0, 1.0, 1.0], seed=7)

    down = MedallionPipeline.create(spark, str(tmp_path / "down"), n_buckets=4)
    ref = MedallionPipeline.create(spark, str(tmp_path / "ref"), n_buckets=4)
    relay = FeedRelay(up, down, str(tmp_path / "ck"))
    for i, chunk in enumerate(chunks):
        bronze.apply_transcript_batch(up, chunk, epoch=i)
        assert relay.run_once() is not None
        ref.apply_epoch(chunk, epoch=i)
    assert relay.run_once() is None  # caught up
    down.finalize()
    ref.finalize()

    cols = ["conv_id", "turn_idx", "text", "gap_secs", "is_role_transition"]
    a = down.read_silver().select(*cols)
    b = ref.read_silver().select(*cols)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    assert diff == 0, f"feed-fed silver diverges from raw-fed silver: {diff}"

    # crash-between-apply-and-ack: rewind the offset and re-run the cycle
    import json as _json

    ck = relay.tail.checkpoint_path
    state = _json.load(open(ck))
    prev_versions = {
        name: getattr(down, name).current_version()
        for name in ("bronze", "silver")
    }
    relay.tail.ack(state["version"] - 1)  # pretend the last ack was lost
    redelivered = relay.run_once()
    assert redelivered is not None  # range was redelivered...
    for name, v in prev_versions.items():
        assert getattr(down, name).current_version() == v, (
            f"redelivery advanced {name}"
        )  # ...but the epoch guard made it a no-op


def test_cli_relay_verb_tails_upstream(spark, tmp_path):
    """The relay CLI verb end-to-end (in-process): an upstream bronze
    table relayed into a fresh downstream medallion lake."""
    import argparse

    from maritime_activity_reports_cdc_spark import cli
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    up = bronze.create_transcripts_table(
        spark, str(tmp_path / "up"), n_buckets=2, apply_mode="cow"
    )
    bronze.apply_transcript_batch(up, _epoch0(spark), epoch=0)
    bronze.apply_transcript_batch(up, _epoch1(spark), epoch=1)
    MedallionPipeline.create(spark, str(tmp_path / "down"), n_buckets=2)

    args = argparse.Namespace(
        cmd="relay", master="local[4]", shuffle_partitions=8, config=None,
        upstream=str(tmp_path / "up"), root=str(tmp_path / "down"),
        checkpoint=str(tmp_path / "ck"), poll_secs=0.1,
        max_polls=5, max_idle_polls=1,
    )
    out = cli.cmd_relay(args)
    assert out["ranges_applied"] >= 1
    down = MedallionPipeline.load(spark, str(tmp_path / "down"))
    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in down.read_silver().select("conv_id", "turn_idx", "text").collect()
    }
    assert got[("c1", 0)] == "s0-v2" and ("c1", 1) not in got
    assert got[("c2", 0)] == "new"


def test_silver_turn_mode_feed_arbitrates_by_generation(spark, tmp_path):
    """Change feed over a TURN-mode silver table: deltas are re-enriched
    rows whose (lsn, op_ordinal) envelope is unchanged — only _gen
    distinguishes images — so the feed must resolve by generation (the
    cmd_rewrite lesson applied to the feed). A ts-moving update must
    surface BOTH the updated turn and its re-enriched successor as
    update pre/post pairs, with the postimages carrying fresh gap_secs."""
    import datetime as dt

    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    T0 = dt.datetime(2025, 5, 1, 12, 0, 0)
    p = MedallionPipeline.create(
        spark, str(tmp_path / "lake"), n_buckets=2, layer_mode="turn",
        compact_every=10_000,
    )
    rows0 = [
        ("I", 1, 0, T0, "cA", 0, "system", "sys", None, T0),
        ("I", 2, 0, T0, "cA", 1, "user", "hello", None,
         T0 + dt.timedelta(seconds=60)),
    ]
    p.apply_epoch(spark.createDataFrame(rows0, CHANGE_SCHEMA), epoch=0)
    v1 = p.silver.current_version()
    upd = [("U", 3, 0, T0, "cA", 0, "system", "sys", None,
            T0 + dt.timedelta(seconds=30))]
    p.apply_epoch(spark.createDataFrame(upd, CHANGE_SCHEMA), epoch=1)

    ch = read_changes(p.silver, v1, order=("_gen",))
    m = _changes_map(ch)
    assert set(m) == {
        ("cA", 0, "update_preimage"), ("cA", 0, "update_postimage"),
        ("cA", 1, "update_preimage"), ("cA", 1, "update_postimage"),
    }
    # successor turn's enrichment moved with the predecessor's new ts
    assert m[("cA", 1, "update_preimage")].gap_secs == 60.0
    assert m[("cA", 1, "update_postimage")].gap_secs == 30.0
    # internal MoR columns never reach the feed
    from maritime_activity_reports_cdc_spark.operators.changefeed import (
        COMMIT_TS_COL,
    )
    assert not any(c.startswith("_") and c not in
                   (CHANGE_TYPE_COL, COMMIT_VERSION_COL, COMMIT_TS_COL)
                   for c in ch.columns)


def test_feed_rows_carry_commit_timestamp(fed_table):
    """Delta CDF contract parity: every feed row carries _commit_timestamp
    from the snapshot's commit metadata, non-null and non-decreasing in
    commit version (reference gold/table_setup.py:82-84 consumes it)."""
    from maritime_activity_reports_cdc_spark.operators.changefeed import (
        COMMIT_TS_COL,
    )

    t, _, v2 = fed_table
    ch = read_changes(t, 0, v2)
    assert COMMIT_TS_COL in ch.columns
    rows = ch.select(COMMIT_VERSION_COL, COMMIT_TS_COL).distinct().collect()
    assert all(r[COMMIT_TS_COL] is not None for r in rows)
    by_version = sorted((r[COMMIT_VERSION_COL], r[COMMIT_TS_COL]) for r in rows)
    ts_in_version_order = [ts for _, ts in by_version]
    assert ts_in_version_order == sorted(ts_in_version_order)


def test_expired_range_raises_typed_error(spark, tmp_path):
    """Retention past a consumer's offset raises FeedExpiredError (a
    ValueError subclass for pre-round-5 callers), not a silent wedge."""
    from maritime_activity_reports_cdc_spark.operators.changefeed import (
        FeedExpiredError,
    )

    t = bronze.create_transcripts_table(
        spark, str(tmp_path / "t"), n_buckets=2, apply_mode="cow"
    )
    for i in range(4):
        bronze.apply_transcript_batch(
            t, _batch(spark, [("U", 100 + i, 0, TS, "c1", 0, "system",
                               f"v{i}", None, TS)]), epoch=i,
        )
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FeedExpiredError):
        read_changes(t, 0).count()
    with pytest.raises(ValueError):  # backward-compatible type
        read_changes(t, 0).count()


def test_keys_only_table_diff_classifies_by_presence(spark, tmp_path):
    """A replace/overwrite commit on a keys-only table (no payload value
    columns) must classify by presence alone — the empty-struct compare
    used to raise at plan time (ADVICE r4)."""
    from pyspark.sql import types as T

    from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    t.replace_partitions(
        spark.createDataFrame([("a", 0), ("b", 1)], schema)
    )
    v1 = t.current_version()
    t.replace_partitions(
        spark.createDataFrame([("a", 0), ("c", 2)], schema)
    )
    m = {
        (r.conv_id, r.turn_idx, r[CHANGE_TYPE_COL])
        for r in read_changes(t, v1, keys=("conv_id", "turn_idx"),
                              order=()).collect()
    }
    assert m == {("b", 1, "delete"), ("c", 2, "insert")}


def test_feed_relay_bootstraps_after_retention(spark, tmp_path):
    """Self-healing relay: upstream retention expires commits past the
    acked offset (including a delete the relay never saw); with
    bootstrap_on_expiry=True the relay re-baselines from a full snapshot —
    downstream converges to the upstream state, vanished keys included —
    then resumes incremental tailing."""
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.streaming.feedrelay import FeedRelay

    up = bronze.create_transcripts_table(
        spark, str(tmp_path / "up"), n_buckets=2, apply_mode="cow"
    )
    down = MedallionPipeline.create(spark, str(tmp_path / "down"), n_buckets=2)
    relay = FeedRelay(up, down, str(tmp_path / "ck"), bootstrap_on_expiry=True)

    bronze.apply_transcript_batch(up, _epoch0(spark), epoch=0)
    assert relay.run_once() is not None  # incremental hop, offset acked

    # retention window: an update + a delete the relay will never see as diffs
    bronze.apply_transcript_batch(up, _batch(spark, [
        ("U", 300, 0, TS, "c1", 0, "system", "s0-resync", None, TS),
        ("D", 301, 1, TS, "c9", 1, None, None, None, None),
    ]), epoch=1)
    bronze.apply_transcript_batch(up, _batch(spark, [
        ("I", 302, 0, TS, "c3", 0, "system", "fresh", None, TS),
    ]), epoch=2)
    up.expire_snapshots(keep_last=1)

    out = relay.run_once()
    assert out is not None and out.get("bootstrap") is True
    assert relay.run_once() is None  # caught up after resync
    down.finalize()

    got = {
        (r.conv_id, r.turn_idx): r.text
        for r in down.read_silver().select("conv_id", "turn_idx", "text").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.text
        for r in bronze.read_transcripts(up).select(
            "conv_id", "turn_idx", "text").collect()
    }
    assert got == want
    assert ("c9", 1) not in got  # the unseen delete reached downstream

    # incremental tailing resumes after the bootstrap
    bronze.apply_transcript_batch(up, _batch(spark, [
        ("U", 400, 0, TS, "c3", 0, "system", "fresh-v2", None, TS),
    ]), epoch=3)
    assert relay.run_once().get("bootstrap") is None


def test_feed_relay_chains_two_hops_with_crashes(spark, tmp_path):
    """The reference's full E2/E3 topology (silver/cdf_processor.py
    chained hops in /root/reference): raw change log -> upstream bronze
    -> [feed] -> mid medallion lake -> [feed over mid.bronze] -> export
    medallion lake. Three-lake convergence, with a simulated crash
    (lost ack) at EACH hop boundary proving exactly-once end to end, and
    per-cycle cost asserted O(change volume): each hop moves at most the
    chunk's rows and commits exactly one bronze snapshot per cycle."""
    import json as _json

    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.streaming.feedrelay import FeedRelay

    up = bronze.create_transcripts_table(
        spark, str(tmp_path / "up"), n_buckets=4, apply_mode="mor"
    )
    mid = MedallionPipeline.create(spark, str(tmp_path / "mid"), n_buckets=4)
    out = MedallionPipeline.create(spark, str(tmp_path / "out"), n_buckets=4)
    relay1 = FeedRelay(up, mid, str(tmp_path / "ck1"))
    relay2 = FeedRelay(mid.bronze, out, str(tmp_path / "ck2"))

    log = generate_transcript_changes(
        spark, n_conversations=25, turns_per_conv=6,
        update_ratio=0.3, delete_ratio=0.1, seed=23,
    )
    chunks = [c.cache() for c in log.randomSplit([1.0, 1.0, 1.0], seed=5)]
    for i, chunk in enumerate(chunks):
        n_chunk = chunk.count()
        bronze.apply_transcript_batch(up, chunk, epoch=i)
        mid_bronze_v = mid.bronze.current_version()
        out_bronze_v = out.bronze.current_version()
        r1 = relay1.run_once()
        r2 = relay2.run_once()
        # cost is change volume, not table volume; one commit per cycle
        assert 0 < r1["n_events"] <= n_chunk
        assert 0 < r2["n_events"] <= r1["n_events"]
        assert mid.bronze.current_version() == mid_bronze_v + 1
        assert out.bronze.current_version() == out_bronze_v + 1

    # crash between apply and ack at EACH hop boundary: rewind the acked
    # offset, re-run, and require the epoch guard to swallow redelivery
    for relay, down in ((relay1, mid), (relay2, out)):
        state = _json.load(open(relay.tail.checkpoint_path))
        before = {
            name: getattr(down, name).current_version()
            for name in ("bronze", "silver")
        }
        relay.tail.ack(state["version"] - 1)
        assert relay.run_once() is not None  # redelivered...
        for name, v in before.items():
            assert getattr(down, name).current_version() == v, (
                f"redelivery advanced {name}"
            )  # ...but no state advanced
        assert relay.run_once() is None  # caught up again

    mid.finalize()
    out.finalize()
    want = {
        (r.conv_id, r.turn_idx): r.text
        for r in bronze.read_transcripts(up).select(
            "conv_id", "turn_idx", "text").collect()
    }
    for lake in (mid, out):
        got = {
            (r.conv_id, r.turn_idx): r.text
            for r in lake.read_silver().select(
                "conv_id", "turn_idx", "text").collect()
        }
        assert got == want
    for chunk in chunks:
        chunk.unpersist()


def test_feed_relay_propagates_schema_evolution(spark, tmp_path):
    """Additive schema evolution flows THROUGH the feed topology: the
    upstream table evolves (new 'lang' column), the relayed batch carries
    it, and the downstream lake evolves automatically — old downstream
    rows null-backfill, new rows carry values (reference P9/S6 composed
    with the CDF hop)."""
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_evolved_changes,
    )
    from maritime_activity_reports_cdc_spark.streaming.feedrelay import FeedRelay

    up = bronze.create_transcripts_table(
        spark, str(tmp_path / "up"), n_buckets=2, apply_mode="cow"
    )
    down = MedallionPipeline.create(spark, str(tmp_path / "down"), n_buckets=2)
    relay = FeedRelay(up, down, str(tmp_path / "ck"))

    bronze.apply_transcript_batch(up, _epoch0(spark), epoch=0)
    assert relay.run_once() is not None
    assert "lang" not in down.bronze.schema().fieldNames()

    ev, _ = generate_evolved_changes(spark, n_conversations=4, turns_per_conv=2, seed=5)
    bronze.apply_transcript_batch(up, ev, epoch=1)
    assert relay.run_once() is not None

    assert "lang" in down.bronze.schema().fieldNames()
    got = {
        (r.conv_id, r.turn_idx): r.lang
        for r in bronze.read_transcripts(down.bronze)
        .select("conv_id", "turn_idx", "lang").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): r.lang
        for r in bronze.read_transcripts(up)
        .select("conv_id", "turn_idx", "lang").collect()
    }
    assert got == want  # evolved values survive the hop exactly
    assert any(v is not None for v in want.values())  # evolution is real
    assert all(
        got[(c, t)] is None for (c, t) in got if c in ("c1", "c9")
    )  # pre-evolution rows null-backfill
