"""Per-epoch serial breakdown for the sparse FLOOR regime (VERDICT r4
next-round #5): where do the ~seconds of a 3.2k-event epoch go?

Decomposition per epoch:
  - bronze_secs     bronze apply, timed on its own thread
  - silver_secs     silver turn refresh, timed on its own thread; the two
                    overlap, and each is ONE Spark write job whose input
                    pipeline (thin scan, joins, enrichment) executes
                    inside the job. wall_secs - max(bronze, silver) is
                    mostly the affected-set aggregate.
  - flush_secs      gold flush submit (async; ~0 when hidden)
  - bronze/silver commit profile: write job vs footer stats vs manifest
    JSON IO (from LakeTable.last_commit_profile)
  - PLUS a pure-floor control: an EMPTY epoch (batch with zero rows for
    any conversation) through the identical path — its wall is the
    scheduling + epoch-guard + commit floor with no data compute at all.

Usage: PYTHONPATH=/root/repo python BENCH/floor_profile.py
Prints one JSON line; writes nothing into the repo.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maritime_activity_reports_cdc_spark.session import get_spark  # noqa: E402


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="floor-profile", master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from maritime_activity_reports_cdc_spark.operators.apply import rewrite_files
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_sparse_update_epochs,
        generate_transcript_changes,
    )

    sp_convs = int(os.environ.get("BENCH_SPARSE_CONVS", "20000"))
    sp_turns = int(os.environ.get("BENCH_SPARSE_TURNS", "25"))
    sp_epochs = int(os.environ.get("BENCH_SPARSE_EPOCHS", "6"))
    work = tempfile.mkdtemp(prefix="floor_prof_")
    try:
        load = generate_transcript_changes(
            spark, n_conversations=sp_convs, turns_per_conv=sp_turns,
            update_ratio=0.0, delete_ratio=0.0, seed=7,
        )
        load_path = os.path.join(work, "load")
        load.write.parquet(load_path)
        load = spark.read.parquet(load_path)
        updates = generate_sparse_update_epochs(
            spark, n_conversations=sp_convs, turns_per_conv=sp_turns,
            n_epochs=sp_epochs, convs_per_epoch=sp_convs // 50,
            updates_per_conv=8, delete_frac=0.05, window_frac=0.1, seed=7,
        )
        upd_path = os.path.join(work, "updates")
        updates.write.parquet(upd_path)
        updates = spark.read.parquet(upd_path)

        pipe = MedallionPipeline.create(
            spark, os.path.join(work, "lake"), n_buckets=cpus,
            compact_every=4, derived_every=2,
            layer_mode="auto",
        )
        from maritime_activity_reports_cdc_spark.streaming.runner import (
            CheckpointedReplayer,
        )

        CheckpointedReplayer(pipe, os.path.join(work, "ck")).run(load, n_chunks=1)
        rows_per_file = max((sp_convs * sp_turns) // (cpus * 8), 1)
        rewrite_files(pipe.bronze, sort_by=("conv_id", "turn_idx"),
                      target_file_rows=rows_per_file)
        rewrite_files(pipe.silver, sort_by=("conv_id", "turn_idx"),
                      order=("_gen",), target_file_rows=rows_per_file)

        lo, hi = updates.agg(F.min("lsn"), F.max("lsn")).collect()[0]
        span = int(hi) - int(lo) + 1
        step = max(1, (span + sp_epochs - 1) // sp_epochs)
        epochs_out = []
        pipe.async_derived = True
        pipe.async_maintenance = bool(int(os.environ.get("FLOOR_ASYNC_MAINT", "0")))
        for i in range(sp_epochs):
            lo_i = int(lo) + i * step
            chunk = updates.where(
                (F.col("lsn") >= lo_i) & (F.col("lsn") < min(lo_i + step, int(lo) + span))
            )
            t0 = time.monotonic()
            m = pipe.apply_epoch(chunk, epoch=1 + i)
            wall = time.monotonic() - t0
            epochs_out.append({
                "epoch": 1 + i,
                "events": m.n_events,
                "wall_secs": round(wall, 3),
                "bronze_secs": round(m.bronze_secs, 3),
                "silver_secs": round(m.silver_secs, 3),
                "flush_submit_secs": round(m.gold_secs, 3),
                "bronze_commit": getattr(pipe.bronze, "last_commit_profile", None),
                "silver_commit": getattr(pipe.silver, "last_commit_profile", None),
            })
        t0 = time.monotonic()
        pipe.finalize()
        finalize_secs = round(time.monotonic() - t0, 3)

        # pure-floor control: an empty batch through the identical path
        empty = updates.where(F.lit(False))
        t0 = time.monotonic()
        pipe.apply_epoch(empty, epoch=100)
        empty_secs = round(time.monotonic() - t0, 3)

        print(json.dumps({
            "metric": "sparse_floor_per_epoch_breakdown",
            "convs": sp_convs, "turns": sp_turns,
            "epochs": epochs_out,
            "finalize_secs": finalize_secs,
            "empty_epoch_floor_secs": empty_secs,
            "cores": cpus,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
