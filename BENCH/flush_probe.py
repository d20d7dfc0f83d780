"""One-shot probe: where does the big-family auto_micro leg's derived
flush spend its time? Monkey-patches timing around the gold refresh
sub-steps; diagnostics only (not part of the bench)."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maritime_activity_reports_cdc_spark.session import get_spark  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
spark = get_spark(app_name="flush-probe", master=f"local[{CPUS}]",
                  shuffle_partitions=CPUS * 2)
spark.sparkContext.setLogLevel("ERROR")

from maritime_activity_reports_cdc_spark.plans import gold, pipeline, silver  # noqa: E402
from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline  # noqa: E402
from maritime_activity_reports_cdc_spark.sources.generator import (  # noqa: E402
    generate_sparse_update_epochs,
    generate_transcript_changes,
)
from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer  # noqa: E402


def timed(mod, name):
    fn = getattr(mod, name)

    def wrap(*a, **k):
        t0 = time.monotonic()
        try:
            return fn(*a, **k)
        finally:
            print(f"PROBE {name}: {time.monotonic() - t0:.3f}s", flush=True)

    setattr(mod, name, wrap)


timed(gold, "refresh_summary_for_conversations")
timed(gold, "refresh_daily_via_index")
timed(silver, "read_silver_for_affected")
# pipeline imported gold/silver by module ref, so patching the module
# attribute is visible to it
timed(pipeline.MedallionPipeline, "_flush_derived")
timed(pipeline.MedallionPipeline, "finalize")

sp_convs, sp_turns, sp_epochs = 250_000, 40, 3
work = tempfile.mkdtemp(prefix="flushprobe_")
try:
    load = generate_transcript_changes(
        spark, n_conversations=sp_convs, turns_per_conv=sp_turns,
        update_ratio=0.0, delete_ratio=0.0, seed=7,
    )
    lp = os.path.join(work, "load")
    load.write.parquet(lp)
    load = spark.read.parquet(lp)
    updates = generate_sparse_update_epochs(
        spark, n_conversations=sp_convs, turns_per_conv=sp_turns,
        n_epochs=sp_epochs, convs_per_epoch=6000, updates_per_conv=56,
        delete_frac=0.05, window_frac=0.1, seed=7,
    )
    up = os.path.join(work, "upd")
    updates.write.parquet(up)
    updates = spark.read.parquet(up)

    root = os.path.join(work, "lake")
    pipe = MedallionPipeline.create(
        spark, root, n_buckets=CPUS,
        compact_every=0, derived_every=2, layer_mode="auto",
    )
    pipe.compact_delta_depth = 10**6
    t0 = time.monotonic()
    CheckpointedReplayer(pipe, os.path.join(work, "ckl")).run(load, n_chunks=1)
    print(f"PROBE load_replay: {time.monotonic() - t0:.3f}s", flush=True)
    from maritime_activity_reports_cdc_spark.operators.apply import rewrite_files

    rows_per_file = max((sp_convs * sp_turns) // (CPUS * 8), 1)
    t0 = time.monotonic()
    rewrite_files(pipe.bronze, sort_by=("conv_id", "turn_idx"),
                  target_file_rows=rows_per_file)
    rewrite_files(pipe.silver, sort_by=("conv_id", "turn_idx"),
                  order=("_gen",), target_file_rows=rows_per_file)
    print(f"PROBE rewrites: {time.monotonic() - t0:.3f}s", flush=True)

    pipe2 = MedallionPipeline.load(spark, root)
    pipe2.derived_every = 2
    pipe2.compact_every = 0
    pipe2.compact_delta_depth = 10**6
    rep = CheckpointedReplayer(pipe2, os.path.join(work, "ck_micro"))
    t0 = time.monotonic()
    r = rep.run(updates, n_chunks=sp_epochs, start_epoch=1)
    wall = time.monotonic() - t0
    print(f"PROBE auto_micro wall: {wall:.3f}s epochs="
          f"{[round(m.total_secs, 2) for m in r.metrics]}", flush=True)
finally:
    shutil.rmtree(work, ignore_errors=True)
