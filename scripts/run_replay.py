"""spark-submit entry point: change-log replay through the medallion
pipeline (the north_rule deployment mode).

Package and run:

    zip -r engine.zip maritime_activity_reports_cdc_spark
    spark-submit --py-files engine.zip scripts/run_replay.py \
        --changes /path/to/changes_parquet \
        --lake /path/to/lake_root \
        --checkpoint /path/to/ckpt \
        --chunks 16 --buckets 256 --layer-mode auto

On a cluster, pass --master/--num-executors etc. to spark-submit as
usual; the script only sets per-job SQL confs. Resume after a crash by
re-running the same command — committed epochs are skipped via the
checkpoint + per-table epoch watermarks.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    from maritime_activity_reports_cdc_spark.config import LAYER_MODES

    ap = argparse.ArgumentParser()
    ap.add_argument("--changes", required=True, help="parquet dir with the change log")
    ap.add_argument("--lake", required=True, help="lake root (created if missing)")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--chunks", type=int, default=16)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--layer-mode", choices=LAYER_MODES, default="auto",
                    help="silver refresh plan; 'auto' picks turn vs cow "
                         "per epoch from batch density")
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--derived-every", type=int, default=2,
                    help="gold refresh cadence (final state identical via "
                         "the replayer's finalize)")
    ap.add_argument("--no-gold", action="store_true")
    ap.add_argument("--config", default=None,
                    help="TOML engine config (see config.py); explicit "
                         "flags win")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.lake import LakeTable
    from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

    spark = SparkSession.builder.appName("transcripts-cdc-replay").getOrCreate()
    log = spark.read.parquet(args.changes)
    if LakeTable.exists(f"{args.lake}/bronze_transcripts"):
        pipe = MedallionPipeline.load(spark, args.lake)
    else:
        kw = dict(
            n_buckets=args.buckets, layer_mode=args.layer_mode,
            compact_every=args.compact_every, derived_every=args.derived_every,
        )
        if args.config:
            from maritime_activity_reports_cdc_spark.config import load_config

            lake_cfg = load_config(args.config).lake
            defaults = {"n_buckets": 64, "layer_mode": "auto", "compact_every": 8,
                        "derived_every": 2}
            for k, v in defaults.items():
                # flags at their defaults yield to the config file
                if kw[k] == v:
                    kw[k] = getattr(lake_cfg, k)
        pipe = MedallionPipeline.create(
            spark, args.lake,
            with_gold=not args.no_gold, with_daily=not args.no_gold,
            **kw,
        )
    report = CheckpointedReplayer(pipe, args.checkpoint).run(log, n_chunks=args.chunks)
    print(json.dumps({
        "epochs_run": report.epochs_run,
        "epochs_skipped": report.epochs_skipped,
        "events": report.events,
        "wall_secs": round(report.wall_secs, 2),
        "events_per_sec": round(report.events_per_sec, 1),
    }))


if __name__ == "__main__":
    main()
