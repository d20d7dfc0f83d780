"""Lake maintenance: snapshot expiry / orphan cleanup (reference VACUUM,
``bronze/table_setup.py:206-220``) and sorted file rewrite (reference
OPTIMIZE ZORDER, ``silver/table_setup.py:276-291``)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.operators.apply import rewrite_files
from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.sources.generator import generate_transcript_changes
from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

from tests.helpers import assert_states_equal, naive_replay, table_state


def _disk_parquet_files(root: str) -> int:
    n = 0
    for dirpath, _d, files in os.walk(os.path.join(root, "data")):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_expire_snapshots_reclaims_disk_and_keeps_window(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.IntegerType()), T.StructField("v", T.StringType())])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema)
    for i in range(6):
        t.overwrite(spark.createDataFrame([(i, f"v{i}")], schema))
    files_before = _disk_parquet_files(t.path)
    assert files_before >= 6  # every overwrite strands the old file

    # an orphan from a crashed commit is cleaned up too
    orphan_dir = os.path.join(t.path, "data", "c99999999-deadbeef")
    os.makedirs(orphan_dir)
    open(os.path.join(orphan_dir, "part-oops.parquet"), "w").write("junk")

    stats = t.expire_snapshots(keep_last=3)
    assert stats["manifests_removed"] > 0 and stats["files_removed"] > 0

    cur = t.current_version()
    # time travel within the retention window still works
    assert t.read(version=cur - 1).collect()[0].v == "v4"
    assert t.read().collect()[0].v == "v5"
    # beyond the window the manifest is gone
    try:
        t.snapshot(1)
        raise AssertionError("expired snapshot should be unreadable")
    except FileNotFoundError:
        pass
    assert _disk_parquet_files(t.path) < files_before
    assert not os.path.exists(orphan_dir)

    # table still writable after expiry (version numbering continues)
    t.overwrite(spark.createDataFrame([(9, "v9")], schema))
    assert t.read().collect()[0].v == "v9"


def test_rewrite_files_sorts_and_tightens_bounds(spark, tmp_path):
    changes = generate_transcript_changes(
        spark, n_conversations=60, turns_per_conv=8, update_ratio=0.3,
        delete_ratio=0.05, seed=23,
    ).cache()
    t = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=2)
    bronze.replay_change_log(t, changes, n_chunks=5)
    expected = naive_replay(changes)

    n = rewrite_files(t, sort_by=("conv_id", "turn_idx"), target_file_rows=60)
    assert n == len(t.partition_values())
    snap = t.snapshot()
    # bounded files: each bucket split into several sorted slices ...
    assert len(snap.all_files()) > len(t.partition_values())
    # ... whose conv_id ranges are disjoint within a bucket (file stats
    # tight => bounds-pruning skips most files for point-ish lookups)
    for part, files in snap.files.items():
        spans = sorted(
            tuple(snap.file_stats[f]["conv_id"]) for f in files if f in snap.file_stats
        )
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, f"overlapping sorted files in bucket {part}"
    # resolved state unchanged (tombstones still hidden from reads)
    assert_states_equal(table_state(t.read()), expected)
    changes.unpersist()


def test_commit_rewrites_only_touched_partition_manifests(spark, tmp_path):
    """Manifest scalability: the snapshot stores per-partition manifest
    refs; a commit touching one bucket reuses every other bucket's ref
    file VERBATIM, so commit metadata cost is O(changed partitions) and
    stays flat as total file count grows."""
    import datetime as dt

    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    ts = dt.datetime(2025, 2, 1)
    t = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=16)
    seed = [("I", i, 0, ts, f"c{i}", 0, "user", f"t{i}", None, ts) for i in range(200)]
    bronze.apply_transcript_batch(t, spark.createDataFrame(seed, CHANGE_SCHEMA), epoch=0)
    parent = t.snapshot()
    assert parent.refs and len(parent.refs) >= 8

    # touch exactly one conversation -> one bucket
    one = [("U", 10_000, 0, ts, "c0", 0, "user", "t0v2", None, ts)]
    bronze.apply_transcript_batch(t, spark.createDataFrame(one, CHANGE_SCHEMA), epoch=1)
    snap = t.snapshot()
    changed = [p for p in snap.refs if snap.refs[p] != parent.refs.get(p)]
    assert len(changed) == 1, f"expected 1 rewritten partition manifest, got {changed}"
    # an epoch-only commit (noop) rewrites none
    t.commit_epoch_noop("other_source", 7)
    snap2 = t.snapshot()
    assert snap2.refs == snap.refs
    # resolved reads are unaffected by the ref indirection
    resolved = bronze.read_transcripts(t)
    assert resolved.where(F.col("conv_id") == "c0").collect()[0].text == "t0v2"


def test_relay_with_expiry_cadence_converges_and_bounds_metadata(spark, tmp_path):
    """expire_keep_last wired into the relay: state equals the
    no-expiry pipeline and the manifest count stays bounded instead of
    growing with epochs."""
    import pandas as pd

    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

    changes = generate_transcript_changes(
        spark, n_conversations=25, turns_per_conv=6, update_ratio=0.3,
        delete_ratio=0.1, seed=37,
    ).cache()
    ref = MedallionPipeline.create(spark, str(tmp_path / "ref"), n_buckets=4)
    CheckpointedReplayer(ref, str(tmp_path / "ck1")).run(changes, n_chunks=6)

    exp = MedallionPipeline.create(spark, str(tmp_path / "exp"), n_buckets=4)
    exp.expire_keep_last = 3
    CheckpointedReplayer(exp, str(tmp_path / "ck2")).run(changes, n_chunks=6)

    a = ref.read_silver().select("conv_id", "turn_idx", "text", "gap_secs").toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    b = exp.read_silver().select("conv_id", "turn_idx", "text", "gap_secs").toPandas() \
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)

    n_manifests = len([n for n in os.listdir(os.path.join(exp.silver.path, "_manifests"))
                       if n.startswith("v")])
    assert n_manifests <= 3
    # still writable + exactly-once intact after expiry
    import maritime_activity_reports_cdc_spark.plans.bronze as bz
    res = bz.apply_transcript_batch(exp.bronze, changes.limit(0), epoch=2)
    assert not res.applied  # old epoch still guarded post-expiry
    changes.unpersist()


def test_rewrite_resolves_mor_deltas_and_keeps_tombstones(spark, tmp_path):
    changes = generate_transcript_changes(
        spark, n_conversations=25, turns_per_conv=6, update_ratio=0.4,
        delete_ratio=0.15, seed=29,
    ).cache()
    t = bronze.create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    bronze.replay_change_log(t, changes, n_chunks=4)
    assert t.delta_partition_values()

    rewrite_files(t, sort_by=("conv_id", "turn_idx"))
    assert t.delta_partition_values() == []
    assert_states_equal(table_state(t.read()), naive_replay(changes))
    # retained tombstones survived the rewrite (out-of-order safety)
    tombs = t.read(tombstones="include").where(F.col("op") == "D").count()
    assert tombs > 0
    changes.unpersist()


def test_fold_dedups_by_key_when_partitioned_by_a_non_key_column(spark, tmp_path):
    """A key-MoR table partitioned by a column that is not a function of
    its keys: one key's delta lands in another partition than its base
    row. Compaction and rewrite must still leave one row per key (only a
    bucket-of-the-keys partitioning lets them dedup inside a partition)."""
    from maritime_activity_reports_cdc_spark.operators.apply import compact

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("region", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("op_ordinal", T.IntegerType()),
    ])
    for name, fold in (("compact", compact), ("rewrite", rewrite_files)):
        t = LakeTable.create(spark, str(tmp_path / name), schema, partition_by="region")
        t.append(spark.createDataFrame(
            [("c1", 0, "eu", "I", 1, 0), ("c2", 0, "eu", "I", 2, 0)], schema
        ))
        # c1 moves region: its newer image is a delta in another partition
        t.append_deltas(spark.createDataFrame([("c1", 0, "us", "U", 3, 0)], schema))
        fold(t)
        assert t.delta_partition_values() == [], name
        rows = sorted((r.conv_id, r.region, r.lsn) for r in t.read().collect())
        assert rows == [("c1", "us", 3), ("c2", "eu", 2)], name


def _extents(snap):
    out = []
    for f in snap.all_files():
        st = snap.file_stats[f]
        out.append(
            (st["x"][1] - st["x"][0], st["y"][1] - st["y"][0], st["__rows"])
        )
    return out


def _weighted_extent(ext, dim):
    total = sum(rows for _, _, rows in ext)
    return sum(e[dim] * e[2] for e in ext) / total


def test_zorder_rewrite_tightens_stats_on_every_dimension(spark, tmp_path):
    """OPTIMIZE ZORDER analog: after a z-order rewrite, per-file [min,max]
    is tight on BOTH z columns, so bounds pruning works for predicates on
    either — lexicographic sort only achieves that for the leading key."""
    grid = spark.range(4096).select(
        (F.col("id") % 64).cast("int").alias("x"),
        (F.col("id") / 64).cast("int").alias("y"),
    ).orderBy(F.xxhash64("id"))  # destroy any incidental layout
    schema = T.StructType([
        T.StructField("x", T.IntegerType()), T.StructField("y", T.IntegerType()),
    ])

    lex = LakeTable.create(
        spark, str(tmp_path / "lex"), schema=schema,
        properties={"stats_cols": ["x", "y"]},
    )
    zt = LakeTable.create(
        spark, str(tmp_path / "z"), schema=schema,
        properties={"stats_cols": ["x", "y"]},
    )
    # Each table starts as ONE shuffled file: a rewrite without a
    # partition column or z key keeps its input splits, so the
    # lexicographic checks below need a single input split. AQE
    # coalesces the orderBy exchange into one partition; the session
    # default has AQE off.
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        lex.append(grid)
        zt.append(grid)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
    assert len(lex.snapshot().all_files()) == len(zt.snapshot().all_files()) == 1
    rewrite_files(lex, sort_by=("x", "y"), target_file_rows=256)
    rewrite_files(zt, zorder=("x", "y"), zorder_bits=6, target_file_rows=256)

    lex_ext = _extents(lex.snapshot())
    z_ext = _extents(zt.snapshot())
    assert len(z_ext) >= 8
    # lexicographic: every 256-row file spans (nearly) the full y domain
    assert min(ey for _, ey, _r in lex_ext) >= 48
    # z-order: the ROW-WEIGHTED extent (what drives scan cost) is
    # quadrant-tight on BOTH dims; tiny range-boundary remainder files
    # may individually straddle a z discontinuity
    assert _weighted_extent(z_ext, 0) <= 32
    assert _weighted_extent(z_ext, 1) <= 32
    assert _weighted_extent(lex_ext, 1) >= 48

    # pruning on the NON-leading dimension: y < 8 touches a fraction of
    # the z files but every lexicographic file
    def overlapping(snap, col, lo, hi):
        return sum(
            1 for f in snap.all_files()
            if snap.file_stats[f][col][0] <= hi and snap.file_stats[f][col][1] >= lo
        )

    assert overlapping(lex.snapshot(), "y", 0, 7) == len(lex_ext)
    assert overlapping(zt.snapshot(), "y", 0, 7) <= len(z_ext) // 2

    # the spec is the table's write-order: a later plain replace commit
    # re-applies the z clustering from the persisted property
    assert zt.properties()["clustering"]["zorder"] == ["x", "y"]
    zt.replace_partitions(grid.coalesce(1))
    z_ext2 = _extents(zt.snapshot())
    assert _weighted_extent(z_ext2, 0) <= 32
    assert _weighted_extent(z_ext2, 1) <= 32
