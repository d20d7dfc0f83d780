"""Seeded inputs for the benchmark workloads.

The transcript change logs are a pure function of the seed and the sizes
below, made by the engine's own generators and written as parquet under
the run's work directory. The catalog reads the repository's deterministic
sf0.01 test tables, kept under ``data/`` (the tables its queries read).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import functions as F

# Sizes: a run, set-up included, stays near a minute on a 4-core host, where
# the per-epoch floor (~2 s) outweighs the rows either replay moves. Shapes
# (epoch counts, events per epoch, routing) are fixed, so a different seed
# changes values, never the shape of the work.
DENSE = dict(
    n_conversations=800, turns_per_conv=25, update_ratio=0.3, delete_ratio=0.05,
    duplicate_ratio=0.02, hot_key_pct=1, hot_factor=20,
)
DENSE_EPOCHS = 8
DENSE_WARMUP_SLICE = 8  # the warm-up pass replays 1/8 of the conversations
SPARSE = dict(n_conversations=400, turns_per_conv=25)
SPARSE_EPOCHS = 5
SPARSE_CONVS_PER_EPOCH = 8  # 2% of the lake per epoch, as bench.py's floor family
SPARSE_UPDATES_PER_CONV = 8
CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
CATALOG_TABLES = ("region", "nation", "customer", "lineitem", "events", "documents", "embeddings")


@dataclass
class IngestInput:
    """A change log to replay plus what the checks need to know about it."""

    paths: list[str]  # parquet dirs whose union is the full change history
    n_events: int  # raw input events of the timed part (duplicates included)
    epoch_dirs: list[str]  # sparse: one transcript batch per tail epoch
    meta_dirs: list[str]  # sparse: one SCD2 batch per tail epoch
    preload: str | None = None  # sparse: the initial-load log
    meta_preload: str | None = None
    lsn_recent: int = 0  # changes at or above this LSN are "recent"


def dense_input(spark, work: str, seed: int) -> IngestInput:
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_transcript_changes,
    )

    path = os.path.join(work, "dense_log")
    generate_transcript_changes(spark, seed=seed, **DENSE).write.parquet(path)
    log = spark.read.parquet(path)
    n, lo, hi = log.agg(F.count("*"), F.min("lsn"), F.max("lsn")).collect()[0]
    # the last quarter of the LSN span: the replay's final two epochs
    return IngestInput([path], int(n), [], [], lsn_recent=int(lo + (hi - lo) * 3 // 4))


def sparse_input(spark, work: str, seed: int) -> IngestInput:
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_conv_meta_changes,
        generate_sparse_update_epochs,
        generate_transcript_changes,
    )

    n_conv, n_turns = SPARSE["n_conversations"], SPARSE["turns_per_conv"]
    load = os.path.join(work, "sparse_load")
    generate_transcript_changes(
        spark, n_conversations=n_conv, turns_per_conv=n_turns,
        update_ratio=0.0, delete_ratio=0.0, seed=seed,
    ).write.parquet(load)
    per_epoch = SPARSE_CONVS_PER_EPOCH * SPARSE_UPDATES_PER_CONV
    lsn_base = (n_conv * 977 + n_turns * 4 * 61 + 1) * 1048576
    upd = os.path.join(work, "sparse_updates")
    (
        generate_sparse_update_epochs(
            spark, n_conversations=n_conv, turns_per_conv=n_turns,
            n_epochs=SPARSE_EPOCHS, convs_per_epoch=SPARSE_CONVS_PER_EPOCH,
            updates_per_conv=SPARSE_UPDATES_PER_CONV, delete_frac=0.05,
            window_frac=0.1, seed=seed, lsn_base=lsn_base,
        )
        .withColumn("_e", ((F.col("lsn") - F.lit(lsn_base)) / per_epoch).cast("int"))
        .write.partitionBy("_e").parquet(upd)
    )
    # SCD2 feed: the inserts ride in the pre-load, the updates and deletes
    # are cut into one batch per tail epoch by LSN range
    meta = os.path.join(work, "sparse_meta")
    meta_df = generate_conv_meta_changes(
        spark, n_conversations=n_conv, update_ratio=0.5, delete_ratio=0.02, seed=seed
    )
    n_mut = int(n_conv * 0.5) + int(n_conv * 0.02)
    step = -(-n_mut // SPARSE_EPOCHS)
    (
        meta_df.withColumn(
            "_e",
            F.when(F.col("lsn") < n_conv, F.lit(-1)).otherwise(
                ((F.col("lsn") - F.lit(n_conv)) / step).cast("int")
            ),
        )
        .write.partitionBy("_e").parquet(meta)
    )
    epoch_dirs = [os.path.join(upd, f"_e={i}") for i in range(SPARSE_EPOCHS)]
    meta_dirs = [os.path.join(meta, f"_e={i}") for i in range(SPARSE_EPOCHS)]
    n_meta = spark.read.parquet(*meta_dirs).count()
    return IngestInput(
        [load, upd], SPARSE_EPOCHS * per_epoch + n_meta, epoch_dirs, meta_dirs,
        preload=load, meta_preload=os.path.join(meta, "_e=-1"),
        lsn_recent=lsn_base + (SPARSE_EPOCHS - 2) * per_epoch,
    )
