"""Session defaults: interpreted plan evaluation, AQE off and
host-derived sizing."""

from __future__ import annotations

import json
import os
import subprocess
import textwrap

from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
from maritime_activity_reports_cdc_spark.session import (
    CODEGEN_CONF,
    INTERPRETED_CONF,
    MAX_DRIVER_MEM_MB,
    PLAN_CONF,
    host_sizing,
)
from maritime_activity_reports_cdc_spark.sources.generator import (
    generate_conv_meta_changes,
    generate_sparse_update_epochs,
    generate_transcript_changes,
)

# Janino compilations one warm sparse relay epoch may still run. Measured
# 7 on a 4-core host; interpreted evaluation does not reach every
# generated class (e.g. in-memory cache column accessors still compile).
# With codegen on, the same epoch compiled 282.
MAX_COMPILES_PER_SPARSE_EPOCH = 15

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compilations(spark) -> int:
    """Janino compilations run so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_sparse_relay_epoch_compiles_almost_nothing(spark, tmp_path):
    """A sparse epoch through every layer (bronze apply, turn-path silver,
    background gold flush, background compaction, SCD2) runs
    interpreted: it compiles at most a handful of classes instead of one
    per plan expression."""
    n_convs = 40
    load = generate_transcript_changes(
        spark, n_conversations=n_convs, turns_per_conv=5,
        update_ratio=0.0, delete_ratio=0.0, seed=11,
    )
    sparse = generate_sparse_update_epochs(
        spark, n_conversations=n_convs, turns_per_conv=5, n_epochs=1,
        convs_per_epoch=4, updates_per_conv=2, delete_frac=0.1,
        window_frac=0.2, seed=11,
    )
    meta = generate_conv_meta_changes(spark, n_conversations=n_convs, seed=11)
    meta_load, meta_sparse = meta.where("op = 'I'"), meta.where("op != 'I'")

    p = MedallionPipeline.create(
        spark, str(tmp_path / "m"), n_buckets=4, layer_mode="auto",
        compact_every=2, derived_every=1,
    )
    # warm-up: one small epoch plans every layer once
    p.apply_epoch(load, epoch=0)
    p.apply_meta_epoch(meta_load, epoch=0)
    p.finalize()
    before = _compilations(spark)
    m = p.apply_epoch(sparse, epoch=1)
    p.apply_meta_epoch(meta_sparse, epoch=1)
    p.finalize()
    compiled = _compilations(spark) - before

    # the epoch applied keys, and its background compaction committed
    assert m.n_keys > 0 and p.bronze.current_version() >= 3
    assert compiled <= MAX_COMPILES_PER_SPARSE_EPOCH, compiled
    assert spark.newSession().conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"
    # the default session, and sessions cloned from it, plan without AQE
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.newSession().conf.get("spark.sql.adaptive.enabled") == "false"


def test_host_sizing_from_nproc_and_meminfo():
    meminfo = "MemTotal:       15728640 kB\nMemFree:         1024 kB\n"
    assert host_sizing(4, meminfo) == (4, "7680m")
    # a large host: the heap stops at the cap
    assert host_sizing(64, "MemTotal: 536870912 kB\n") == (64, f"{MAX_DRIVER_MEM_MB}m")
    # no MemTotal line (non-Linux): the cap; no usable CPUs reported: one
    assert host_sizing(0, "") == (1, f"{MAX_DRIVER_MEM_MB}m")


def test_spark_submit_conf_restores_codegen(tmp_path):
    """A job launched with ``spark-submit --conf`` codegen and AQE
    settings (how a large-epoch deployment of the CLI turns them back on)
    keeps them: get_spark's interpreted, AQE-off defaults do not override
    the launch, in the session or in the sessions cloned from it."""
    probe = tmp_path / "probe.py"
    probe.write_text(textwrap.dedent("""
        import json
        from maritime_activity_reports_cdc_spark.session import (
            PLAN_CONF, get_spark,
        )
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        clone = spark.newSession()
        print(json.dumps({k: [spark.conf.get(k), clone.conf.get(k)]
                          for k in PLAN_CONF}))
        spark.stop()
    """))
    launch = {**CODEGEN_CONF, "spark.sql.adaptive.enabled": "true"}
    confs = [arg for k, v in launch.items() for arg in ("--conf", f"{k}={v}")]
    out = subprocess.run(
        ["spark-submit", "--master", "local[1]", "--driver-memory", "1g",
         *confs, str(probe)],
        capture_output=True, text=True, timeout=300,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    assert json.loads(line) == {k: [v, v] for k, v in launch.items()}
    assert set(CODEGEN_CONF) == set(INTERPRETED_CONF)
    assert set(launch) == set(PLAN_CONF)
