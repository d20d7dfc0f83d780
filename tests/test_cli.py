"""CLI smoke tests via spark-submit --py-files — the north_rule
deployment mode (reference test style: ``tests/test_cli.py`` drives the
typer app; here the real binary path is exercised end-to-end)."""

from __future__ import annotations

import json
import os
import subprocess
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "maritime_activity_reports_cdc_spark"


@pytest.fixture(scope="module")
def engine_zip(tmp_path_factory):
    z = tmp_path_factory.mktemp("zip") / "engine.zip"
    with zipfile.ZipFile(z, "w") as zf:
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, PKG)):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, REPO))
    return str(z)


def _cli(engine_zip, *args: str) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        ["spark-submit", "--py-files", engine_zip,
         os.path.join(REPO, PKG, "cli.py"),
         "--master", "local[4]", "--shuffle-partitions", "8", *args],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def test_load_config_parses_and_validates(tmp_path):
    from maritime_activity_reports_cdc_spark.config import load_config

    path = tmp_path / "engine.toml"
    path.write_text(
        "[session]\nshuffle_partitions = 8\n"
        "[lake]\nn_buckets = 4\nlayer_mode = \"auto\"\nderived_every = 2\n"
        "[maintenance]\ntarget_file_rows = 5000\nsort_by = [\"conv_id\", \"turn_idx\"]\n"
        "[replay]\nchunks = 3\n"
    )
    cfg = load_config(str(path))
    assert cfg.session.shuffle_partitions == 8
    assert cfg.lake.n_buckets == 4 and cfg.lake.layer_mode == "auto"
    assert cfg.lake.derived_every == 2
    assert cfg.maintenance.target_file_rows == 5000
    assert cfg.maintenance.sort_by == ("conv_id", "turn_idx")
    assert cfg.replay.chunks == 3
    # unset keys keep defaults
    assert cfg.lake.compact_every == 8

    import pytest as _pytest

    bad = tmp_path / "bad.toml"
    bad.write_text("[lake]\nn_bukkets = 4\n")
    with _pytest.raises(ValueError, match="unknown key"):
        load_config(str(bad))
    # a removed knob is an unknown key too
    for removed in ("[replay]\nadaptive_shuffle = true\n", "[lake]\nbronze_mode = \"mor\"\n"):
        bad.write_text(removed)
        with _pytest.raises(ValueError, match="unknown key"):
            load_config(str(bad))
    bad2 = tmp_path / "bad2.toml"
    for mode in ("zebra", "mor"):  # misspelled, and the retired generation-MoR
        bad2.write_text(f"[lake]\nlayer_mode = \"{mode}\"\n")
        with _pytest.raises(ValueError, match="layer_mode"):
            load_config(str(bad2))


def test_apply_config_leaves_session_sizing_to_the_host(monkeypatch):
    """Without a config file or env var the CLI passes no master and no
    shuffle width, so ``get_spark`` sizes the session from the host; the
    env vars still set them."""
    from maritime_activity_reports_cdc_spark.cli import _apply_config, build_parser

    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        monkeypatch.delenv(var, raising=False)
    args = build_parser().parse_args(["status", "--root", "lake"])
    _apply_config(args)
    assert (args.master, args.shuffle_partitions) == (None, None)

    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[2]")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "6")
    args = build_parser().parse_args(["status", "--root", "lake"])
    _apply_config(args)
    assert (args.master, args.shuffle_partitions) == ("local[2]", 6)


def test_cli_config_file_end_to_end(spark, tmp_path, engine_zip):
    """`--config engine.toml` must drive setup + replay defaults through
    the real spark-submit binary path; explicit flags still win."""
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_transcript_changes,
    )

    changes = generate_transcript_changes(
        spark, n_conversations=10, turns_per_conv=4, update_ratio=0.2, seed=43
    )
    changes_path = str(tmp_path / "changes")
    changes.coalesce(1).write.parquet(changes_path)
    root = str(tmp_path / "lake")
    cfg = tmp_path / "engine.toml"
    cfg.write_text(
        "[session]\nshuffle_partitions = 8\n"
        "[lake]\nn_buckets = 4\nlayer_mode = \"auto\"\n"
        "derived_every = 2\n"
        "[replay]\nchunks = 2\n"
    )

    out = _cli(engine_zip, "--config", str(cfg), "setup", "--root", root)
    assert out["n_buckets"] == 4 and out["layer_mode"] == "auto"

    out = _cli(engine_zip, "--config", str(cfg), "replay", "--root", root,
               "--changes", changes_path, "--checkpoint", str(tmp_path / "ck"))
    assert out["epochs_run"] == 2 and out["events"] > 0  # chunks from config

    out = _cli(engine_zip, "--config", str(cfg), "status", "--root", root)
    assert out["tables"]["bronze"]["version"] > 0


def test_setup_cadence_survives_load(spark, tmp_path):
    """``setup``'s cadence settings, from flags or from ``[lake]``, are
    recorded in the lake, so every verb that loads it (replay, stream,
    relay) runs them; a lake that never recorded them loads the
    defaults."""
    from maritime_activity_reports_cdc_spark import cli
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    session = ["--master", "local[4]", "--shuffle-partitions", "8"]
    flags_root = str(tmp_path / "flags")
    cli.main([*session, "setup", "--root", flags_root, "--n-buckets", "2",
              "--compact-every", "3", "--compact-delta-depth", "5",
              "--derived-every", "2"])
    cfg = tmp_path / "engine.toml"
    cfg.write_text("[lake]\nn_buckets = 2\ncompact_every = 0\n"
                   "compact_delta_depth = 12\nderived_every = 4\n")
    cfg_root = str(tmp_path / "cfg")
    cli.main([*session, "--config", str(cfg), "setup", "--root", cfg_root])

    def cadence(p):
        return p.compact_every, p.compact_delta_depth, p.derived_every

    assert cadence(MedallionPipeline.load(spark, flags_root)) == (3, 5, 2)
    assert cadence(MedallionPipeline.load(spark, cfg_root)) == (0, 12, 4)

    legacy = MedallionPipeline.load(spark, flags_root)
    legacy.bronze.set_properties({k: None for k in MedallionPipeline.CADENCE_KEYS})
    assert cadence(MedallionPipeline.load(spark, flags_root)) == (8, 8, 1)


def test_cmd_rewrite_turn_mode_resolves_by_generation(spark, tmp_path, monkeypatch):
    """`rewrite` on silver written by the turn path (auto mode with every
    epoch routed sparse) must resolve deltas by _gen:
    a re-enriched successor row carries the SAME (lsn, op_ordinal)
    envelope as the stale image, so resolving by lsn tie-breaks
    arbitrarily and can keep the stale enrichment (round-2 review)."""
    import argparse
    import datetime as dt

    from maritime_activity_reports_cdc_spark import cli
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA

    monkeypatch.setattr(MedallionPipeline, "_dense_batch", lambda self, affected: False)
    T0 = dt.datetime(2025, 3, 1, 12, 0, 0)
    root = str(tmp_path / "lake")
    p = MedallionPipeline.create(spark, root, n_buckets=2, layer_mode="auto",
                                 compact_every=10_000)
    rows0 = [
        ("I", 1, 0, T0, "cA", 0, "system", "sys", None, T0),
        ("I", 2, 0, T0, "cA", 1, "user", "hello", None, T0 + dt.timedelta(seconds=60)),
    ]
    p.apply_epoch(spark.createDataFrame(rows0, CHANGE_SCHEMA), epoch=0)
    # move turn 0's ts: turn 1 gets RE-ENRICHED (gap_secs changes) with an
    # unchanged (lsn, op_ordinal) envelope — only _gen distinguishes images
    upd = [("U", 3, 0, T0, "cA", 0, "system", "sys", None,
            T0 + dt.timedelta(seconds=30))]
    p.apply_epoch(spark.createDataFrame(upd, CHANGE_SCHEMA), epoch=1)
    want = {(r.conv_id, r.turn_idx): r.gap_secs for r in p.read_silver().collect()}
    assert want[("cA", 1)] == 30.0

    args = argparse.Namespace(
        cmd="rewrite", master="local[4]", shuffle_partitions=8, root=root,
        table="silver", target_file_rows=None, drop_tombstones_below_lsn=None,
        zorder=None,
    )
    out = cli.cmd_rewrite(args)
    assert out["mode"] == "generation" and out["partitions_rewritten"] >= 1

    p2 = MedallionPipeline.load(spark, root)
    # no outstanding deltas: the BASE files must hold the fresh enrichment
    got = {(r.conv_id, r.turn_idx): r.gap_secs
           for r in p2.silver.read(deltas="exclude").collect()}
    assert got[("cA", 1)] == 30.0


def test_cli_setup_replay_status_compact_expire(spark, tmp_path, engine_zip):
    from maritime_activity_reports_cdc_spark.sources.generator import (
        generate_transcript_changes,
    )

    changes = generate_transcript_changes(
        spark, n_conversations=15, turns_per_conv=5, update_ratio=0.3, seed=41
    )
    changes_path = str(tmp_path / "changes")
    changes.coalesce(1).write.parquet(changes_path)
    root = str(tmp_path / "lake")

    out = _cli(engine_zip, "setup", "--root", root, "--n-buckets", "4",
               "--layer-mode", "cow")
    assert out["n_buckets"] == 4 and "bronze_mode" not in out

    out = _cli(engine_zip, "replay", "--root", root, "--changes", changes_path,
               "--chunks", "2", "--checkpoint", str(tmp_path / "ck"))
    assert out["epochs_run"] == 2 and out["events"] > 0

    out = _cli(engine_zip, "status", "--root", root)
    assert out["tables"]["bronze"]["version"] > 0
    assert out["last_epoch_metrics"]["n_events"] > 0

    feed_out = str(tmp_path / "feed")
    out = _cli(engine_zip, "changes", "--root", root, "--since-version", "0",
               "--output", feed_out)
    assert out["rows"] > 0 and out["by_change_type"].get("insert", 0) > 0
    assert spark.read.parquet(feed_out).count() == out["rows"]

    out = _cli(engine_zip, "compact", "--root", root)
    assert out["compacted"]

    out = _cli(engine_zip, "expire", "--root", root, "--keep-last", "1")
    assert out["bronze"]["manifests_removed"] >= 1
