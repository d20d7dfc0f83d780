"""Operational CLI — the engine's analog of the reference's typer app
(``cli.py`` in /root/reference: setup / ingest-cdc / start-streaming /
status, 303 LoC) plus the maintenance verbs a long-lived lake needs
(compact / expire / rewrite). stdlib argparse only; run via

    spark-submit --py-files engine.zip -m maritime_activity_reports_cdc_spark.cli ...
    python -m maritime_activity_reports_cdc_spark.cli <cmd> [opts]

Every command prints one JSON object on stdout (machine-readable, like
the reference's status output).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

from maritime_activity_reports_cdc_spark.config import LAYER_MODES


def _spark(args):
    from maritime_activity_reports_cdc_spark.session import get_spark

    spark = get_spark(
        app_name=f"cdc-engine-{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _apply_config(args) -> None:
    """Fill in any flag the user left unset from ``--config`` (TOML,
    see ``config.py``); explicit flags win, the file wins over built-in
    defaults. Config-overridable flags default to None in the parser so
    'unset' is detectable. ``master`` and ``shuffle_partitions`` stay None
    unless the file or ``SPARK_GRAFT_MASTER`` / ``SPARK_GRAFT_SHUFFLE``
    set them, so that ``get_spark`` sizes the session from the host."""
    from maritime_activity_reports_cdc_spark.config import EngineConfig, load_config

    cfg = load_config(args.config) if getattr(args, "config", None) else EngineConfig()
    shuffle_env = os.environ.get("SPARK_GRAFT_SHUFFLE")
    fallbacks = {
        "master": cfg.session.master or os.environ.get("SPARK_GRAFT_MASTER"),
        "shuffle_partitions": cfg.session.shuffle_partitions
        or (int(shuffle_env) if shuffle_env else None),
        # every [lake] key but expire_keep_last is a setup flag of its name
        **dataclasses.asdict(cfg.lake),
        "keep_last": cfg.lake.expire_keep_last or 10,
        "chunks": cfg.replay.chunks,
        "target_file_rows": cfg.maintenance.target_file_rows,
    }
    for name, value in fallbacks.items():
        if hasattr(args, name) and getattr(args, name) is None:
            setattr(args, name, value)


def cmd_setup(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    spark = _spark(args)
    p = MedallionPipeline.create(
        spark, args.root, n_buckets=args.n_buckets,
        layer_mode=args.layer_mode,
        compact_every=args.compact_every,
        compact_delta_depth=args.compact_delta_depth,
        derived_every=args.derived_every,
    )
    return {
        "root": p.root,
        "tables": ["bronze_transcripts", "silver_transcripts",
                   "gold_conversation_summary", "gold_daily_rollup",
                   "silver_conv_master", "_lineage", "_metrics"],
        "n_buckets": p.n_buckets,
        "layer_mode": p.layer_mode,
    }


def cmd_replay(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

    spark = _spark(args)
    p = MedallionPipeline.load(spark, args.root)
    changes = spark.read.parquet(args.changes)
    report = CheckpointedReplayer(p, args.checkpoint).run(changes, n_chunks=args.chunks)
    return {
        "epochs_run": report.epochs_run,
        "epochs_skipped": report.epochs_skipped,
        "events": report.events,
        "wall_secs": round(report.wall_secs, 3),
        "events_per_sec": round(report.events_per_sec, 1),
    }


def cmd_stream(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.streaming.manager import StreamManager
    from maritime_activity_reports_cdc_spark.streaming.runner import start_all_streams

    spark = _spark(args)
    p = MedallionPipeline.load(spark, args.root)
    mgr = StreamManager(spark, metrics_path=os.path.join(args.root, "_stream_metrics"))
    start_all_streams(
        mgr, spark, p, args.feed, args.meta_feed, args.checkpoint,
        available_now=args.processing_time is None,
        processing_time=args.processing_time,
    )
    if args.processing_time is None:
        mgr.await_all(args.timeout)
        health = mgr.monitor(poll_secs=0.2, max_polls=1, until_idle=True)
    else:
        health = mgr.monitor(poll_secs=args.poll_secs, max_polls=args.max_polls)
        mgr.stop_all()
    return {"health": health}


def cmd_status(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    spark = _spark(args)
    p = MedallionPipeline.load(spark, args.root)
    out: dict = {"root": p.root, "n_buckets": p.n_buckets,
                 "layer_mode": p.layer_mode, "tables": {}}
    for name in ("bronze", "silver", "summary", "daily", "conv_dates",
                 "conv_master", "lineage", "metrics"):
        table = getattr(p, name, None)
        if table is None:
            continue
        snap = table.snapshot()
        n_files, depth = table.delta_load()
        out["tables"][name] = {
            "version": snap.version,
            "base_files": len(snap.all_files()),
            "delta_files": n_files,
            "delta_depth": depth,
            "epochs": snap.epochs,
        }
    last = (
        p.metrics.read().orderBy("epoch", ascending=False).limit(1).collect()
        if out["tables"].get("metrics", {}).get("base_files") else []
    )
    if last:
        r = last[0]
        out["last_epoch_metrics"] = {
            "epoch": r.epoch, "n_events": r.n_events,
            "events_per_sec": r.events_per_sec, "total_secs": r.total_secs,
        }
    return out


def cmd_compact(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    spark = _spark(args)
    p = MedallionPipeline.load(spark, args.root)
    p.compact_all()
    return {"compacted": True}


def cmd_expire(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    spark = _spark(args)
    p = MedallionPipeline.load(spark, args.root)
    out = {}
    for name in ("bronze", "silver", "summary", "daily", "conv_dates",
                 "conv_master", "lineage", "metrics"):
        table = getattr(p, name, None)
        if table is not None:
            out[name] = table.expire_snapshots(keep_last=args.keep_last)
    return out


def cmd_report(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.report import pipeline_report

    spark = _spark(args)
    return pipeline_report(MedallionPipeline.load(spark, args.root))


def cmd_rewrite(args) -> dict:
    from maritime_activity_reports_cdc_spark.operators.apply import rewrite_files
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    spark = _spark(args)
    p = MedallionPipeline.load(spark, args.root)
    table = {"bronze": p.bronze, "silver": p.silver}[args.table]
    horizon = args.drop_tombstones_below_lsn
    if args.table == "silver":
        # silver deltas are ordered by refresh generation — a re-enriched
        # row keeps its (lsn, op_ordinal) envelope, so resolving by lsn
        # would tie-break arbitrarily and could keep a stale image. A cow
        # silver has no deltas and no tombstones, so this changes nothing
        # there.
        mode, order = "generation", ("_gen",)
        if horizon is None:
            # refresh generations are monotonic, so every tombstone below
            # the current refresh epoch is safe to drop (matches
            # compact_all)
            horizon = table.last_epoch("silver_refresh") + 1
    else:
        mode, order = "lsn", ("lsn", "op_ordinal")
    zorder = tuple(args.zorder.split(",")) if args.zorder else None
    n = rewrite_files(
        table, sort_by=("conv_id", "turn_idx"), order=order,
        target_file_rows=args.target_file_rows,
        drop_tombstones_below_lsn=horizon,
        zorder=zorder,
    )
    out = {"table": args.table, "mode": mode, "partitions_rewritten": n}
    if zorder:
        out["zorder"] = list(zorder)
    return out


def cmd_changes(args) -> dict:
    from maritime_activity_reports_cdc_spark.operators.changefeed import (
        CHANGE_TYPE_COL,
        read_changes,
    )
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    spark = _spark(args)
    p = MedallionPipeline.load(spark, args.root)
    table = {"bronze": p.bronze, "silver": p.silver}[args.table]
    # silver deltas are ordered by refresh generation — a re-enriched
    # row keeps its (lsn, op_ordinal) envelope, so the feed must
    # arbitrate by _gen exactly like cmd_rewrite resolves.
    order = ("_gen",) if args.table == "silver" else ("lsn", "op_ordinal")
    end = (
        args.end_version if args.end_version is not None
        else table.current_version()
    )
    ch = read_changes(table, args.since_version, end, order=order)
    if args.output:
        ch.write.mode("overwrite").parquet(args.output)
        ch = spark.read.parquet(args.output)
    counts = {r[0]: r[1] for r in ch.groupBy(CHANGE_TYPE_COL).count().collect()}
    return {
        "table": args.table,
        "since_version": args.since_version,
        "end_version": end,
        "rows": sum(counts.values()),
        "by_change_type": counts,
        "output": args.output,
    }


def cmd_relay(args) -> dict:
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.lake import LakeTable
    from maritime_activity_reports_cdc_spark.streaming.feedrelay import FeedRelay

    spark = _spark(args)
    upstream = LakeTable.load(spark, args.upstream)
    down = MedallionPipeline.load(spark, args.root)
    relay = FeedRelay(
        upstream, down, args.checkpoint,
        bootstrap_on_expiry=getattr(args, "bootstrap_on_expiry", False),
    )
    out = relay.run(
        poll_secs=args.poll_secs,
        max_polls=args.max_polls,
        max_idle_polls=args.max_idle_polls,
    )
    return {"upstream": args.upstream, "root": args.root, **out}


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="cdc-engine")
    ap.add_argument("--config", default=None,
                    help="TOML config file (see config.py); explicit flags win")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("setup", help="create the medallion lake")
    sp.add_argument("--root", required=True)
    sp.add_argument("--n-buckets", type=int, default=None)
    sp.add_argument("--layer-mode", choices=LAYER_MODES, default=None)
    sp.add_argument("--compact-every", type=int, default=None)
    sp.add_argument("--compact-delta-depth", type=int, default=None)
    sp.add_argument("--derived-every", type=int, default=None)

    rp = sub.add_parser("replay", help="bounded checkpointed replay of a change log")
    rp.add_argument("--root", required=True)
    rp.add_argument("--changes", required=True, help="parquet change-log path")
    rp.add_argument("--chunks", type=int, default=None)
    rp.add_argument("--checkpoint", required=True)

    st = sub.add_parser("stream", help="tail change feeds via Structured Streaming")
    st.add_argument("--root", required=True)
    st.add_argument("--feed", required=True, help="transcript change feed dir")
    st.add_argument("--meta-feed", default=None, help="conv-metadata change feed dir")
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--processing-time", default=None,
                    help="e.g. '30 seconds' for continuous mode (default: availableNow)")
    st.add_argument("--timeout", type=float, default=600.0)
    st.add_argument("--poll-secs", type=float, default=5.0)
    st.add_argument("--max-polls", type=int, default=10)

    for name in ("status", "compact", "report"):
        x = sub.add_parser(name)
        x.add_argument("--root", required=True)

    ep = sub.add_parser("expire", help="snapshot expiry + orphan file cleanup")
    ep.add_argument("--root", required=True)
    ep.add_argument("--keep-last", type=int, default=None)

    rl = sub.add_parser(
        "relay",
        help="lake-to-lake hop: tail an upstream table's change feed "
             "into this medallion lake (exactly-once via epoch guard)",
    )
    rl.add_argument("--upstream", required=True, help="upstream lake table path")
    rl.add_argument("--root", required=True, help="downstream medallion root")
    rl.add_argument("--checkpoint", required=True)
    rl.add_argument("--poll-secs", type=float, default=2.0)
    rl.add_argument("--max-polls", type=int, default=None)
    rl.add_argument("--max-idle-polls", type=int, default=3)
    rl.add_argument(
        "--bootstrap-on-expiry", action="store_true",
        help="self-heal when upstream retention expired past the acked "
             "offset: re-baseline from a full upstream snapshot "
             "(O(table)) instead of failing",
    )

    cg = sub.add_parser(
        "changes", help="change-data-feed export (Delta table_changes analog)"
    )
    cg.add_argument("--root", required=True)
    cg.add_argument("--table", choices=["bronze", "silver"], default="bronze")
    cg.add_argument("--since-version", type=int, required=True,
                    help="EXCLUSIVE start version (0 = everything)")
    cg.add_argument("--end-version", type=int, default=None,
                    help="inclusive end (default: current version)")
    cg.add_argument("--output", default=None,
                    help="write the feed as parquet at this path")

    rw = sub.add_parser("rewrite", help="sorted file rewrite (OPTIMIZE analog)")
    rw.add_argument("--root", required=True)
    rw.add_argument("--table", choices=["bronze", "silver"], default="bronze")
    rw.add_argument("--target-file-rows", type=int, default=None)
    rw.add_argument(
        "--zorder", default=None,
        help="comma-separated columns for Morton-interleaved clustering "
             "(OPTIMIZE ZORDER analog) instead of the lexicographic sort",
    )
    rw.add_argument(
        "--drop-tombstones-below-lsn", type=int, default=None,
        help="tombstone horizon: an LSN for bronze; a refresh generation "
             "for silver (default there: current epoch)",
    )
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    _apply_config(args)
    fn = {
        "setup": cmd_setup, "replay": cmd_replay, "stream": cmd_stream,
        "status": cmd_status, "compact": cmd_compact, "expire": cmd_expire,
        "rewrite": cmd_rewrite, "report": cmd_report, "changes": cmd_changes,
        "relay": cmd_relay,
    }[args.cmd]
    print(json.dumps(fn(args), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
