"""Direct lake-format tests: atomic commits, conflict detection, time
travel, epoch guards, stats pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.sources.lake import (
    CommitConflict,
    EpochAlreadyApplied,
    LakeTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
        T.StructField("p", T.IntegerType(), True),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_append_overwrite_and_time_travel(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_by="p")
    t.append(_df(spark, [("a", 1, 0), ("b", 2, 1)]))
    t.append(_df(spark, [("c", 3, 0)]))
    assert t.read().count() == 3
    assert t.read(version=1).count() == 2      # time travel
    assert sorted(t.partition_values()) == ["0", "1"]
    t.overwrite(_df(spark, [("z", 9, 2)]))
    assert t.read().count() == 1
    assert t.read(version=2).count() == 3      # history intact


def test_replace_partitions_swaps_only_named(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_by="p")
    t.append(_df(spark, [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]))
    t.replace_partitions(_df(spark, [("B", 20, 1)]), partition_values=[1, 2])
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {("a", 1), ("B", 20)}  # p=2 dropped, p=0 untouched


def test_commit_conflict_detected(spark, tmp_path):
    t1 = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_by="p")
    t1.append(_df(spark, [("a", 1, 0)]))
    # second handle commits first; t1's snapshot pointer is now stale in
    # the sense that a racing writer exists mid-commit: simulate by
    # advancing the table between t2's read and write via monkeypatched
    # parent version
    t2 = LakeTable.load(spark, str(tmp_path / "t"))
    parent = t2.snapshot()
    t1.append(_df(spark, [("b", 2, 0)]))  # interleaving commit
    from maritime_activity_reports_cdc_spark.sources.lake import Snapshot

    stale = Snapshot(
        version=parent.version + 1, parent=parent.version,
        schema_json=parent.schema_json, partition_by=parent.partition_by,
        files=parent.files, summary={}, epochs=parent.epochs,
        properties=parent.properties,
    )
    with pytest.raises(CommitConflict):
        t2._write_snapshot(stale, expected_parent=parent.version)


def test_epoch_guard(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_by="p")
    t.append(_df(spark, [("a", 1, 0)]), epoch=("src", 0))
    with pytest.raises(EpochAlreadyApplied):
        t.append(_df(spark, [("a", 1, 0)]), epoch=("src", 0))
    t.append(_df(spark, [("b", 2, 0)]), epoch=("src", 1))  # next epoch fine
    t.append(_df(spark, [("x", 0, 0)]), epoch=("other", 0))  # separate source
    assert t.last_epoch("src") == 1 and t.last_epoch("other") == 0


def test_noop_epoch_commit(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_by="p")
    t.commit_epoch_noop("src", 5)
    assert t.last_epoch("src") == 5 and t.read().count() == 0


def test_set_properties_commits_without_touching_data(spark, tmp_path):
    """ALTER TABLE SET TBLPROPERTIES analog: a property-only snapshot —
    data files untouched, None removes a key, epochs carried forward."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, partition_by="p",
        properties={"a": 1, "keep": "x"},
    )
    t.append(_df(spark, [("a", 1, 0), ("b", 2, 1)]), epoch=("src", 3))
    files_before = dict(t.snapshot().files)
    v = t.current_version()
    t.set_properties({"b": 2, "a": None})
    assert t.current_version() == v + 1
    assert t.properties() == {"keep": "x", "b": 2}
    assert t.snapshot().files == files_before
    assert t.last_epoch("src") == 3
    assert t.read().count() == 2


def test_snapshot_cache_is_thread_safe(spark, tmp_path):
    """Relay, derived-flush and overlap-pool threads share one LakeTable:
    concurrent snapshot() misses across more versions than the cache
    holds must neither raise (dict mutated during min()/pop) nor let the
    cache grow past its bound."""
    import sys
    import threading

    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA)
    for i in range(9):
        t.set_properties({"i": i})
    versions = list(range(t.current_version() + 1))
    errors: list[BaseException] = []
    start = threading.Barrier(8)

    def worker(offset: int) -> None:
        try:
            start.wait()
            for n in range(400):
                v = versions[(offset + n) % len(versions)]
                assert t.snapshot(v).version == v
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
    # switch threads as often as possible so unguarded dict iteration
    # and pops actually interleave
    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        sys.setswitchinterval(prior)
    assert not errors, errors[:3]
    assert len(t._snap_cache) <= 4


def test_add_columns_null_backfill(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, partition_by="p")
    t.append(_df(spark, [("a", 1, 0)]))
    t.add_columns([T.StructField("extra", T.StringType(), True)])
    assert t.read().where(F.col("extra").isNull()).count() == 1
    # writes aligned to the evolved schema
    t.append(
        spark.createDataFrame([("b", 2, 0, "x")], "k string, v long, p int, extra string")
    )
    assert t.read().where(F.col("extra") == "x").count() == 1


def test_file_stats_pruning(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, partition_by="p",
        properties={"stats_cols": ["k"]},
    )
    t.append(_df(spark, [("a", 1, 0), ("b", 2, 0)]))
    t.append(_df(spark, [("y", 3, 0), ("z", 4, 0)]))
    pruned = t.read_partitions([0], bounds={"k": ("a", "c")})
    assert {r.k for r in pruned.collect()} == {"a", "b"}  # y/z file pruned
    # bounds never lose rows that match
    full = t.read_partitions([0], bounds={"k": ("a", "zz")})
    assert full.count() == 4


def test_scd2_dimension_in_pipeline(spark, tmp_path):
    """conv_master relay: meta feed applied exactly-once, current view
    joins onto gold summaries."""
    import datetime as dt

    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import (
        CHANGE_SCHEMA,
        CONV_META_CHANGE_SCHEMA,
    )

    p = MedallionPipeline.create(spark, str(tmp_path / "m"), n_buckets=4)
    t0 = dt.datetime(2025, 5, 1)
    batch = spark.createDataFrame(
        [("I", 1, 0, t0, "cX", 0, "user", "hello world", None, t0)], CHANGE_SCHEMA
    )
    p.apply_epoch(batch, epoch=0)
    meta = spark.createDataFrame(
        [
            ("I", 1, 0, "cX", "first title", "alpha-1", "api", "o1"),
            ("U", 2, 0, "cX", "second title", "alpha-1", "api", "o1"),
        ],
        CONV_META_CHANGE_SCHEMA,
    )
    assert p.apply_meta_epoch(meta, epoch=0) is True
    assert p.apply_meta_epoch(meta, epoch=0) is False  # exactly-once
    view = p.enriched_summary_view().collect()
    assert len(view) == 1
    assert view[0].title == "second title" and view[0].n_turns == 1
