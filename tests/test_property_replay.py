"""Property-based replay invariants (hypothesis): ARBITRARY well-formed
change logs — random ops, out-of-order arrivals, duplicate (lsn,
op_ordinal) redeliveries, delete-then-stale-update sequences — replayed
through the engine in a RANDOM chunking must converge to the naive
single-threaded fold, in both copy-on-write and merge-on-read bronze.

This is the adversarial complement of the seeded-generator fixtures:
hypothesis explores op interleavings the generator never emits."""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

from tests.helpers import BRONZE_ORIGINS, assert_states_equal, create_bronze, naive_replay, table_state

T0 = dt.datetime(2025, 6, 1, 0, 0, 0)

# one op: (op_kind, lsn, conv, turn, version)
_ops = st.lists(
    st.tuples(
        st.sampled_from(["I", "U", "U", "D"]),       # updates twice as likely
        st.integers(min_value=1, max_value=60),      # small LSN space -> collisions
        st.integers(min_value=0, max_value=3),       # few conversations
        st.integers(min_value=0, max_value=4),       # few turns -> key contention
        st.integers(min_value=0, max_value=9),
    ),
    min_size=1,
    max_size=40,
)


def _rows(ops):
    rows = []
    for ordinal, (op, lsn, conv, turn, ver) in enumerate(ops):
        cid = f"conv-{conv}"
        if op == "D":
            rows.append(("D", lsn, ordinal, T0, cid, turn, None, None, None, None))
        else:
            rows.append(
                (op, lsn, ordinal, T0, cid, turn, "user",
                 f"c{conv} t{turn} v{ver}", None,
                 T0 + dt.timedelta(seconds=conv * 1000 + turn))
            )
    return rows


@pytest.mark.parametrize("origin", BRONZE_ORIGINS)
@settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops, n_chunks=st.integers(min_value=1, max_value=5))
def test_replay_converges_to_naive_fold(spark, tmp_path_factory, ops, n_chunks, origin):
    changes = spark.createDataFrame(_rows(ops), CHANGE_SCHEMA)
    expected = naive_replay(changes)

    root = tmp_path_factory.mktemp("prop")
    t = create_bronze(spark, str(root / "t"), 2, origin)
    bronze.replay_change_log(t, changes, n_chunks=n_chunks)
    # replaying the identical log again must be absorbed (exactly-once)
    stats = bronze.replay_change_log(t, changes, n_chunks=n_chunks)
    assert all(not r.applied for r in stats.results)

    from maritime_activity_reports_cdc_spark.operators.apply import read_merged

    actual = table_state(read_merged(t))
    if expected.empty:
        assert len(actual) == 0
    else:
        assert_states_equal(actual, expected)


@pytest.mark.parametrize("origin", BRONZE_ORIGINS)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops, n_chunks=st.integers(min_value=1, max_value=4))
def test_changefeed_round_trip_converges_to_naive_fold(
    spark, tmp_path_factory, ops, n_chunks, origin
):
    """Change-feed round-trip law under ADVERSARIAL logs: for any
    well-formed op interleaving and chunking, a replica built solely
    from the source table's change feed equals both the source and the
    naive single-threaded fold — including stale-after-tombstone and
    duplicate-redelivery sequences the feed must classify as no-ops."""
    from maritime_activity_reports_cdc_spark.operators.apply import read_merged
    from maritime_activity_reports_cdc_spark.operators.changefeed import (
        ChangeFeedTail,
        changes_to_batch,
    )

    changes = spark.createDataFrame(_rows(ops), CHANGE_SCHEMA)
    expected = naive_replay(changes)

    root = tmp_path_factory.mktemp("cdfprop")
    src = create_bronze(spark, str(root / "src"), 2, origin)
    replica = bronze.create_transcripts_table(spark, str(root / "dst"), n_buckets=2)
    tail = ChangeFeedTail(src, str(root / "off.json"))
    chunks = changes.randomSplit([1.0] * n_chunks, seed=11)
    for i, chunk in enumerate(chunks):
        bronze.apply_transcript_batch(src, chunk, epoch=i)
        polled = tail.poll()
        if polled is None:
            continue  # empty chunk -> no commit -> nothing to relay
        feed, upto = polled
        bronze.apply_transcript_batch(replica, changes_to_batch(feed), epoch=upto)
        tail.ack(upto)

    actual = table_state(read_merged(replica))
    if expected.empty:
        assert len(actual) == 0
    else:
        assert_states_equal(actual, expected)
