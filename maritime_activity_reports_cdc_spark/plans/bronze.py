"""Bronze layer: the raw-entity target table + chunked change-log replay.

Functional analog of the reference bronze layer (``bronze/table_setup.py``
+ ``bronze/cdc_ingestion.py`` in /root/reference) with our own change-feed
mechanics instead of Delta CDF: the change log is an explicit table with a
total ``(lsn, op_ordinal)`` order, tailed in LSN-range chunks (epochs),
each applied exactly-once as a merge-on-read delta append
(``operators.apply.apply_changes``); compaction later folds the deltas
into the base, and reads resolve base ∪ deltas per key.

Partitioning: ``bucket(n, conv_id)`` instead of the reference's
``DATE(movementdatetime)`` (``bronze/table_setup.py:81``) — upserts are
keyed, not time-ranged, so hash buckets make every change map to exactly
one partition and keep each compaction's rewrite footprint proportional
to the buckets it folds. At 100 TB, n_buckets is sized so one bucket ~ a
few GB.

A lake written when bronze still had a copy-on-write mode keeps working:
its bronze is a merge-on-read table with no deltas, and the pipeline
ignores its legacy mode property.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.operators.apply import (
    BUCKET_COL,
    ApplyResult,
    apply_changes,
    bucket_expr,
)
from maritime_activity_reports_cdc_spark.sources.generator import TRANSCRIPT_SCHEMA
from maritime_activity_reports_cdc_spark.sources.lake import LakeTable


def transcript_table_schema(extra_fields: list[T.StructField] | None = None) -> T.StructType:
    # all-nullable: merge-on-read tombstones (op='D') carry a null row image
    fields = [T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA.fields] + [
        T.StructField(BUCKET_COL, T.IntegerType(), False),
        # CDC provenance carried as physical columns, mirroring the
        # reference keeping _change_type/_commit_version/_commit_timestamp
        # (silver/table_setup.py:84-87).
        T.StructField("op", T.StringType(), True),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("op_ordinal", T.IntegerType(), True),
        T.StructField("commit_ts", T.TimestampType(), True),
    ]
    return T.StructType(fields + (extra_fields or []))


def create_transcripts_table(
    spark: SparkSession, path: str, n_buckets: int = 16, properties: dict | None = None
) -> LakeTable:
    """``properties``: extra table properties recorded at creation (the
    pipeline stores its cadence settings here)."""
    return LakeTable.create(
        spark,
        path,
        schema=transcript_table_schema(),
        partition_by=BUCKET_COL,
        # conv_id file bounds let downstream refreshes prune a bucket's
        # historical files when only recently-active conversations changed
        properties={
            "n_buckets": n_buckets,
            # lsn: footer-derived lineage ranges; role: null-count = D
            # tombstone count per delta file (see operators.apply.apply_changes)
            "stats_cols": ["conv_id", "lsn", "role"],
            # winning deletes persist as tombstone rows (invisible to
            # reads) so out-of-order older updates cannot resurrect keys;
            # dropped at compaction once the replay LSN horizon passes
            "retain_tombstones": True,
            # row-image column whose footer null-count == per-file
            # tombstone count (the apply nulls D row images). CONTRACT:
            # the generator/feed never emits a null role on an I/U row —
            # feeds that can't promise that must leave this unset (the
            # apply then counts deletes with an explicit aggregate).
            "mor_tombstone_col": "role",
            **(properties or {}),
        },
    )


def apply_transcript_batch(
    table: LakeTable,
    batch: DataFrame,
    epoch: int,
    source: str = "transcript_changes",
) -> ApplyResult:
    """One epoch of transcript changes -> bronze delta files (provenance
    cols ride along with the row image)."""
    return apply_changes(
        table,
        batch,
        epoch=epoch,
        source=source,
        keys=("conv_id", "turn_idx"),
        order=("lsn", "op_ordinal"),
        bucket_key="conv_id",
    )


def read_transcripts(table: LakeTable, buckets=None, bounds=None) -> DataFrame:
    """Resolved bronze state: base ∪ deltas, one winner per key."""
    from maritime_activity_reports_cdc_spark.operators.apply import read_merged

    return read_merged(table, buckets, bounds)


@dataclass
class ReplayStats:
    epochs: int
    events: int
    upserts: int
    deletes: int
    results: list[ApplyResult]


def replay_change_log(
    table: LakeTable,
    changes: DataFrame,
    n_chunks: int = 1,
    source: str = "transcript_changes",
    start_epoch: int = 0,
) -> ReplayStats:
    """Bounded replay: split the log into ``n_chunks`` contiguous LSN
    ranges and apply each as one epoch (the batch analog of the streaming
    ``foreachBatch`` relay — same code path the streaming runner uses).

    Chunk boundaries come from LSN range arithmetic, not sampling, so the
    same log replayed with any ``n_chunks`` (or twice, or resumed halfway)
    converges to the identical final state — the FIXTURES.md §6 invariant.
    """
    lsn_lo, lsn_hi = changes.agg(F.min("lsn"), F.max("lsn")).collect()[0]
    if lsn_lo is None:
        return ReplayStats(0, 0, 0, 0, [])
    span = int(lsn_hi) - int(lsn_lo) + 1
    step = max(1, (span + n_chunks - 1) // n_chunks)
    results: list[ApplyResult] = []
    events = upserts = deletes = 0
    for i in range(n_chunks):
        lo = int(lsn_lo) + i * step
        hi = min(lo + step, int(lsn_lo) + span)
        if lo >= int(lsn_lo) + span:
            break
        chunk = changes.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        res = apply_transcript_batch(table, chunk, epoch=start_epoch + i, source=source)
        results.append(res)
        if res.applied:
            events += res.n_keys
            upserts += res.n_insert_update
            deletes += res.n_delete
    return ReplayStats(len(results), events, upserts, deletes, results)


__all__ = [
    "BUCKET_COL",
    "bucket_expr",
    "create_transcripts_table",
    "apply_transcript_batch",
    "replay_change_log",
    "transcript_table_schema",
]
