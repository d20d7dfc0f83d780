"""Extra benchmarks + plan capture for the optimization round (guide §1).

NOT part of the driver contract — ``bench.py`` is the frozen measurement
harness. This file exists to (a) isolate individual queries with the noop
sink, (b) capture ``explain("formatted")`` plans into plans/r06/, and
(c) break the CDC replay legs into per-epoch bronze/silver/gold seconds.

Usage:
  python bench_extra.py plans [names...]      # capture formatted plans
  python bench_extra.py headline [names...]   # per-query noop timings
  python bench_extra.py replay                # dense replay with epoch metrics
  python bench_extra.py sparse [floor|big]    # sparse family with epoch metrics
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from maritime_activity_reports_cdc_spark.session import (  # noqa: E402
    CODEGEN_CONF,
    get_spark,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.environ.get("PLAN_DIR", "plans/r06")
SUFFIX = os.environ.get("PLAN_SUFFIX", "before")

HEADLINE = [
    "cdc_apply_latest", "q1_lineitem_rollup", "dim_join_enrichment",
    "latest_event_per_user", "event_type_performance",
    "user_compliance_profile", "scd2_user_profile", "token_count_docs",
    "dedup_exact_docs", "minhash_lsh_docs", "ann_cosine_topk",
]


def _spark():
    spark = get_spark(
        app_name="cdc-engine-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS * 2,
        # the same session as bench.py, whose legs it breaks down
        extra_conf=CODEGEN_CONF,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def cmd_plans(names: list[str]) -> None:
    from maritime_activity_reports_cdc_spark.queries import QUERIES

    spark = _spark()
    os.makedirs(PLAN_DIR, exist_ok=True)
    for name in names or list(QUERIES):
        df = QUERIES[name].fn(spark, SF_DIR)
        out = os.path.join(PLAN_DIR, f"{name}_{SUFFIX}.txt")
        with open(out, "w") as fh:
            fh.write(_explain_str(df))
        print(f"wrote {out}")


def cmd_headline(names: list[str]) -> None:
    from maritime_activity_reports_cdc_spark.queries import QUERIES

    spark = _spark()
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    timings: dict[str, list[float]] = {}
    for _ in range(repeats):
        for name in names or HEADLINE:
            spark.sparkContext.setJobDescription(f"headline:{name}")
            fn = QUERIES[name].fn
            t0 = time.monotonic()
            _force(fn(spark, SF_DIR))
            timings.setdefault(name, []).append(round(time.monotonic() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    print(json.dumps({"samples": timings,
                      "best": {k: min(v) for k, v in timings.items()}}))


def _epoch_report(metrics) -> list[dict]:
    return [
        {
            "epoch": m.epoch, "n_keys": m.n_keys,
            "bronze_s": round(m.bronze_secs, 3),
            "silver_s": round(m.silver_secs, 3),
            "gold_s": round(m.gold_secs, 3),
            "total_s": round(m.total_secs, 3),
        }
        for m in metrics
    ]


def cmd_replay() -> None:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_transcript_changes,
    )
    from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

    spark = _spark()
    n_convs = int(os.environ.get("BENCH_CDC_CONVS", "20000"))
    n_turns = int(os.environ.get("BENCH_CDC_TURNS", "25"))
    work = tempfile.mkdtemp(prefix="cdc_bx_")
    out = {}
    try:
        changes = generate_transcript_changes(
            spark, n_conversations=n_convs, turns_per_conv=n_turns,
            update_ratio=0.3, delete_ratio=0.05, duplicate_ratio=0.02,
            hot_key_pct=1, hot_factor=20, seed=42,
        )
        changes_path = os.path.join(work, "changes")
        changes.write.parquet(changes_path)
        log = spark.read.parquet(changes_path)
        n_events = log.count()
        repeats = int(os.environ.get("BENCH_REPEATS", "2"))
        for attempt in range(repeats):
            for label, n_chunks in [("microbatch4", 4), ("bulk1", 1)]:
                lake = os.path.join(work, f"lake_{label}_a{attempt}")
                pipe = MedallionPipeline.create(
                    spark, lake, n_buckets=CPUS,
                    compact_every=4, derived_every=2,
                )
                replayer = CheckpointedReplayer(
                    pipe, os.path.join(work, f"ckpt_{label}_a{attempt}")
                )
                spark.sparkContext.setJobDescription(f"replay:{label}")
                t0 = time.monotonic()
                rep = replayer.run(log, n_chunks=n_chunks)
                secs = round(time.monotonic() - t0, 3)
                key = f"{label}_a{attempt}"
                out[key] = {
                    "wall_s": secs,
                    "events_per_sec": round(n_events / secs, 1),
                    "epochs": _epoch_report(rep.metrics),
                }
                shutil.rmtree(lake, ignore_errors=True)
                print(json.dumps({key: out[key]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"n_events": n_events, "legs": out}))


def cmd_sparse(which: str) -> None:
    from maritime_activity_reports_cdc_spark.operators.apply import rewrite_files
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_sparse_update_epochs,
        generate_transcript_changes,
    )
    from maritime_activity_reports_cdc_spark.sources.lake import LakeTable
    from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

    spark = _spark()
    if which == "big":
        sp_convs, sp_turns, sp_epochs = 250_000, 40, 3
        convs_per_epoch, updates_per_conv, compact_every = 6000, 56, 0
    else:
        sp_convs, sp_turns, sp_epochs = 20_000, 25, 6
        convs_per_epoch, updates_per_conv, compact_every = 400, 8, 4
    work = tempfile.mkdtemp(prefix=f"cdc_bx_{which}_")
    out: dict = {}
    try:
        load = generate_transcript_changes(
            spark, n_conversations=sp_convs, turns_per_conv=sp_turns,
            update_ratio=0.0, delete_ratio=0.0, seed=7,
        )
        load_path = os.path.join(work, "load_data")
        load.write.parquet(load_path)
        load = spark.read.parquet(load_path)
        updates = generate_sparse_update_epochs(
            spark, n_conversations=sp_convs, turns_per_conv=sp_turns,
            n_epochs=sp_epochs, convs_per_epoch=convs_per_epoch,
            updates_per_conv=updates_per_conv, delete_frac=0.05,
            window_frac=0.1, seed=7,
        )
        upd_path = os.path.join(work, "updates")
        updates.write.parquet(upd_path)
        updates = spark.read.parquet(upd_path)

        t0 = time.monotonic()
        auto_root = os.path.join(work, "auto_a")
        pipe = MedallionPipeline.create(
            spark, auto_root, n_buckets=CPUS,
            compact_every=compact_every, derived_every=2, layer_mode="auto",
        )
        if compact_every == 0:
            pipe.compact_delta_depth = 10**6
        t_load0 = time.monotonic()
        CheckpointedReplayer(pipe, os.path.join(work, "ckl")).run(load, n_chunks=1)
        t_load1 = time.monotonic()
        rows_per_file = max((sp_convs * sp_turns) // (CPUS * 8), 1)
        rewrite_files(pipe.bronze, sort_by=("conv_id", "turn_idx"),
                      target_file_rows=rows_per_file)
        t_load2 = time.monotonic()
        rewrite_files(pipe.silver, sort_by=("conv_id", "turn_idx"),
                      order=("_gen",), target_file_rows=rows_per_file)
        t_load3 = time.monotonic()
        out["load"] = {
            "total_s": round(t_load3 - t0, 3),
            "replay_s": round(t_load1 - t_load0, 3),
            "rewrite_bronze_s": round(t_load2 - t_load1, 3),
            "rewrite_silver_s": round(t_load3 - t_load2, 3),
        }
        print(json.dumps({"load": out["load"]}))

        reps = int(os.environ.get("BENCH_SPARSE_REPEATS",
                                  os.environ.get("BENCH_REPEATS", "2")))
        legs = [
            ("auto_micro", "auto", sp_epochs),
            ("auto_bulk1", "auto", 1),
            ("cow_micro", "cow", sp_epochs),
        ]
        for attempt in range(reps):
            for label, mode, n_chunks in legs:
                root = os.path.join(work, f"{label}_a{attempt}")
                shutil.copytree(auto_root, root)
                if mode == "cow":
                    LakeTable.load(
                        spark, os.path.join(root, "silver_transcripts")
                    ).set_properties({"layer_mode": "cow"})
                pipe = MedallionPipeline.load(spark, root)
                pipe.derived_every = 2
                pipe.compact_every = compact_every
                if compact_every == 0:
                    pipe.compact_delta_depth = 10**6
                replayer = CheckpointedReplayer(
                    pipe, os.path.join(work, f"ck_{label}_a{attempt}")
                )
                spark.sparkContext.setJobDescription(f"sparse_{which}:{label}")
                t0 = time.monotonic()
                rep = replayer.run(updates, n_chunks=n_chunks, start_epoch=1)
                secs = round(time.monotonic() - t0, 3)
                key = f"{label}_a{attempt}"
                out[key] = {"wall_s": secs, "epochs": _epoch_report(rep.metrics)}
                print(json.dumps({key: out[key]}))
                shutil.rmtree(root, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({f"sparse_{which}": out}))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "headline"
    args = sys.argv[2:]
    if cmd == "plans":
        cmd_plans(args)
    elif cmd == "headline":
        cmd_headline(args)
    elif cmd == "replay":
        cmd_replay()
    elif cmd == "sparse":
        cmd_sparse(args[0] if args else "floor")
    else:
        raise SystemExit(f"unknown command {cmd}")
