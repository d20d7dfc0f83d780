"""Benchmark of the CDC engine as its users drive it, end to end and per layer.

    python3 perfbench/run.py --workload dense_backfill --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One process, one local Spark session with
``nproc`` task threads. Each run:

1. set-up (timed as ``setup_s``): JVM start, input generation and a
   warm-up: the dense replay warms up on an eighth of its conversations,
   the sparse tail on building its pre-loaded and rewritten lake;
2. the timed phase, one closed-loop client with fixed work, so every run
   of a workload measures the same pass: one ingest pass (the workload's
   replay). ``--seconds`` is accepted and not used: the pass takes about
   ``run_seconds`` on a 4-core host. The traced run then makes one round of
   reads of the lake the pass left, and the traced run of
   ``CATALOG_WORKLOAD`` one pass over the operator catalog on the sf0.01
   test tables. Their latencies are per-layer metrics: sub-second reads in
   a window of a few seconds vary by a fifth or more between runs on a
   shared 4-core host, too much to bound as end-to-end metrics;
3. untimed checks: after the ingest pass, bronze, silver and gold against
   an independent fold of the change log; every lookup against the same
   fold; every catalog result against its DuckDB oracle twin.

The last stdout line is the result JSON. With ``--trace 0`` it carries the
end-to-end metrics; with ``--trace 1`` the per-layer metrics of a traced
run (layer wrappers plus an event log folded per layer). The line before it
carries the run's details (host sizing, input shapes, named per-workload
metrics, ``failed_ops_ratio``); the same details go to ``.bench_out/``.
``summarize.py`` folds them across runs, with the tracing overhead as the
traced end-to-end medians against the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

import gate  # noqa: E402
import inputs  # noqa: E402
import spans as sp  # noqa: E402

PKG = "maritime_activity_reports_cdc_spark"
WORKLOADS = ("dense_backfill", "sparse_tail")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin for teardown
# The operator catalog runs once, in the traced run of one workload: an
# end-to-end metric is measured on every workload, and a catalog pass in
# every run does not fit the run's time budget
CATALOG_WORKLOAD = "sparse_tail"
# bench.py's HEADLINE catalog queries
CATALOG = (
    "cdc_apply_latest", "q1_lineitem_rollup", "dim_join_enrichment",
    "latest_event_per_user", "event_type_performance", "user_compliance_profile",
    "scd2_user_profile", "token_count_docs", "dedup_exact_docs",
    "minhash_lsh_docs", "ann_cosine_topk",
)
E2E_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "epoch_commit_p50_s": "s",
    "gold_lag_p50_s": "s",
    "peak_rss_mb": "MB",
}
# wrapped functions and the span statistics reported for each
FN_METRICS = {
    "runner.run": ("calls", "self_s"),
    "pipeline.apply_epoch": ("calls", "busy_s", "self_s"),
    "pipeline.finalize": ("busy_s",),
    "silver.compute_affected": ("busy_s",),
    "silver.refresh_silver_turn": ("calls", "busy_s"),
    "silver.refresh_silver_for_conversations": ("calls", "busy_s"),
    "bronze.apply_transcript_batch": ("busy_s",),
    "gold.refresh_summary_for_conversations": ("busy_s",),
    "gold.refresh_daily_via_index": ("busy_s",),
    "apply.compact": ("calls", "busy_s"),
    "lake.append": ("calls", "self_s"),
    "lake.append_deltas": ("calls", "self_s"),
    "lake.replace_partitions": ("calls", "self_s"),
    "lake.snapshot": ("calls", "busy_s"),
    "lake.read_partitions": ("calls", "busy_s"),
    "changefeed.read_changes": ("busy_s",),
    "scd2.apply_scd2": ("busy_s",),
    **{f"catalog.{q}": ("busy_s",) for q in CATALOG},
}
SPARK_LAYERS = ("runner", "pipeline", "bronze", "silver", "gold", "apply", "lake",
                "changefeed", "scd2", "catalog")
SPARK_METRICS = ("task_s", "gc_s", "spill_bytes", "shuffle_write_bytes",
                 "shuffle_read_bytes", "output_rows")
DERIVED_UNITS = {
    "catalog.pass_s": "s",
    "lake_read.lookup_p50_s": "s",
    "lake_read.gold_query_p50_s": "s",
    "lake_read.feed_read_s": "s",
    "lake.commit.write_s": "s",
    "lake.commit.stats_s": "s",
    "lake.commit.manifest_s": "s",
    "lake.commit.files": "count",
    "lake_read.input_bytes": "bytes",
    "bronze.keys_per_event": "ratio",
    "silver.rows_written_per_key": "ratio",
    "gold.rows_written_per_affected_conv": "ratio",
    "changefeed.rows_read_per_change_row": "ratio",
    "maint.busy_share": "ratio",
    "runner.speedup_1_to_n": "ratio",
    "pipeline.apply_epoch.self_share": "ratio",
}


def _unit(field: str) -> str:
    return {"calls": "count", "spill_bytes": "bytes", "shuffle_write_bytes": "bytes",
            "shuffle_read_bytes": "bytes", "output_rows": "rows"}.get(field, "s")


def per_layer_units() -> dict[str, str]:
    units = {f"{fn}.{f}": _unit(f) for fn, fields in FN_METRICS.items() for f in fields}
    units.update({f"{layer}.{m}": _unit(m) for layer in SPARK_LAYERS for m in SPARK_METRICS})
    units.update(DERIVED_UNITS)
    return units


# ---------------------------------------------------------------------------
# host sizing and session
# ---------------------------------------------------------------------------

def host_sizing() -> dict:
    n = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = next(int(line.split()[1]) // 1024 for line in fh if line.startswith("MemTotal"))
    # a sixth of physical RAM, clamped: the inputs are small and the box
    # is shared, so the heap never claims what the host cannot back
    heap_mb = max(1024, min(4096, mem_mb // 6))
    return {"cores": n, "mem_mb": mem_mb, "heap_mb": heap_mb,
            "shuffle_partitions": n, "n_buckets": n}


def start_spark(host: dict, work: str, event_log: str | None):
    from maritime_activity_reports_cdc_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        # the heap is sized up front, so peak memory does not hang on when
        # the collector chose to grow it
        "spark.driver.memory": f"{host['heap_mb']}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Xms{host['heap_mb']}m -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{host['cores']}]",
        shuffle_partitions=host["shuffle_partitions"], extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for
    it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process and its descendants —
    the Spark JVM and its launcher."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                total_kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM")), 0)
        except OSError:
            pass
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Run:
    def __init__(self, args, host: dict, work: str):
        self.args, self.host, self.work = args, host, work
        self.spark = None
        self.attempted = 0
        self.failed: list[str] = []
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "host": host}

    # -- bookkeeping -------------------------------------------------------
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    def _dir(self, name: str) -> str:
        return os.path.join(self.work, name)

    # -- set-up ------------------------------------------------------------
    def prepare(self):
        """The workload's change logs, generated from the seed."""
        d = self._dir("inputs")
        os.makedirs(d)
        make = inputs.dense_input if self.args.workload == "dense_backfill" else inputs.sparse_input
        return make(self.spark, d, self.args.seed)

    def preload(self, inp, root: str) -> str:
        """The maintained lake the tail runs against: one dense load epoch
        and the SCD2 inserts (the sparse workload's warm-up), then
        bench.py's floor-family layout rewrite."""
        from maritime_activity_reports_cdc_spark.operators.apply import rewrite_files
        from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
        from maritime_activity_reports_cdc_spark.sources.generator import (
            CONV_META_CHANGE_SCHEMA,
        )
        from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

        spark = self.spark
        pipe = MedallionPipeline.create(
            spark, root, n_buckets=self.host["n_buckets"], bronze_mode="mor",
            compact_every=4, derived_every=2, layer_mode="auto",
        )
        CheckpointedReplayer(pipe, root + "_ckpt").run(
            spark.read.parquet(inp.preload), n_chunks=1)
        pipe.apply_meta_epoch(
            spark.read.schema(CONV_META_CHANGE_SCHEMA).parquet(inp.meta_preload), epoch=0)
        n_rows = inputs.SPARSE["n_conversations"] * inputs.SPARSE["turns_per_conv"]
        rows_per_file = max(n_rows // (self.host["cores"] * 8), 1)
        rewrite_files(pipe.bronze, sort_by=("conv_id", "turn_idx"),
                      target_file_rows=rows_per_file)
        rewrite_files(pipe.silver, sort_by=("conv_id", "turn_idx"), order=("_gen",),
                      target_file_rows=rows_per_file)
        return root

    # -- ingest ------------------------------------------------------------
    def ingest_pass(self, i: int):
        """One closed-loop ingest pass into a fresh lake (the sparse tail:
        a fresh copy of the pre-loaded lake); dense pass 0 is the warm-up.
        Returns (pipeline, wall seconds of the replay)."""
        from pyspark.sql import functions as F

        from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
        from maritime_activity_reports_cdc_spark.sources.generator import (
            CHANGE_SCHEMA,
            CONV_META_CHANGE_SCHEMA,
        )
        from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

        spark, root = self.spark, self._dir(f"lake{i}")
        if self.args.workload == "dense_backfill":
            # bench.py's dense leg: MoR bronze, CoW derived layers
            pipe = MedallionPipeline.create(
                spark, root, n_buckets=self.host["n_buckets"], bronze_mode="mor",
                compact_every=4, derived_every=2,
            )
            log = spark.read.parquet(self.inp.paths[0])
            n_chunks = inputs.DENSE_EPOCHS
            if i == 0:
                # the warm-up replays an eighth of the conversations in one
                # epoch and the final flush: the same plans on a fraction
                # of the rows
                log = log.where(F.xxhash64("conv_id") % inputs.DENSE_WARMUP_SLICE == 0)
                n_chunks = 1
            replayer = CheckpointedReplayer(pipe, root + "_ckpt")
            t0 = time.perf_counter()
            replayer.run(log, n_chunks=n_chunks)
            return pipe, time.perf_counter() - t0
        shutil.copytree(self.preloaded, root)
        pipe = MedallionPipeline.load(spark, root)
        pipe.derived_every, pipe.compact_every = 2, 4
        batches = [spark.read.schema(CHANGE_SCHEMA).parquet(d) for d in self.inp.epoch_dirs]
        metas = [spark.read.schema(CONV_META_CHANGE_SCHEMA).parquet(d)
                 for d in self.inp.meta_dirs]
        # a tail with a drain point at its end, as the bounded replayer
        # runs: derived flush and compaction overlap the next epochs
        pipe.async_derived = pipe.async_maintenance = True
        t0 = time.perf_counter()
        try:
            for e, (batch, meta) in enumerate(zip(batches, metas), start=1):
                pipe.apply_epoch(batch, epoch=e)
                pipe.apply_meta_epoch(meta, epoch=e)
            pipe.finalize()
            pipe.flush_observability()
        finally:
            pipe.async_derived = pipe.async_maintenance = False
        return pipe, time.perf_counter() - t0

    def check_pass(self, pipe, label: str) -> None:
        try:
            results = gate.check_lake(pipe, self.expected)
        except Exception:  # noqa: BLE001 — a check that cannot run has failed
            traceback.print_exc()
            results = {"lake_checks_ran": False}
        for name, ok in results.items():
            self.op(ok, f"{label}: {name}")

    # -- reads -------------------------------------------------------------
    def read_requests(self, root: str, rng: random.Random, feed_from: int):
        """A seeded mix of lake reads: silver lookups (80% of them of
        recently changed conversations), gold requests (the three gold
        views a dashboard refresh reads) and change-feed reads. Returns
        [(kind, request)]; a request returns its rows and a check to run
        once the request's timer has stopped."""
        from pyspark.sql import functions as F

        from maritime_activity_reports_cdc_spark.operators import changefeed
        from maritime_activity_reports_cdc_spark.operators.apply import bucket_expr
        from maritime_activity_reports_cdc_spark.plans import gold, silver
        from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

        spark = self.spark
        pipe = MedallionPipeline.load(spark, root)
        recent = sorted(self.recent & self.live)
        cold = sorted(self.live - self.recent)
        pick = rng.sample(recent, min(32, len(recent))) + rng.sample(cold, min(32, len(cold)))
        rows = spark.createDataFrame([(c,) for c in pick], "conv_id string").select(
            "conv_id", bucket_expr("conv_id", self.host["n_buckets"]).alias("b")
        ).collect()
        bucket_of = {r.conv_id: r.b for r in rows}
        recent = [c for c in bucket_of if c in self.recent]
        cold = [c for c in bucket_of if c not in self.recent]
        by_conv = self.expected_by_conv

        def lookup(cid):
            def run():
                got = silver.read_silver(
                    pipe.silver, buckets=[bucket_of[cid]], bounds={"conv_id": (cid, cid)},
                ).where(F.col("conv_id") == cid).select(*gate.ROW_COLS).collect()
                return got, lambda: gate.lookup_matches(got, by_conv(cid))
            return run

        def gold_views():
            got = [df.collect() for df in (gold.top_conversations_view(pipe.summary),
                                           pipe.enriched_summary_view(), pipe.read_daily())]
            return got, lambda: True

        def feed():
            df = changefeed.read_changes(pipe.silver, start_version=feed_from)
            with self.tracer.span("changefeed.collect"):  # the feed's jobs run here
                got = df.collect()
            self.change_rows += len(got)
            return got, lambda: True

        # a fixed 8:2 split, so the lookup median always falls among the
        # recent conversations, whatever the seed
        n_cold = 2 if cold else 0
        cids = rng.choices(recent or cold, k=10 - n_cold) + rng.choices(cold, k=n_cold)
        reqs = [("lookup", lookup(c)) for c in cids]
        reqs += 3 * [("gold", gold_views)] + 2 * [("feed", feed)]
        rng.shuffle(reqs)
        return reqs

    def read_round(self, root: str, rng: random.Random, lat: dict, feed_from: int) -> None:
        for kind, req in self.read_requests(root, rng, feed_from):
            try:
                with self.tracer.span(f"lake_read.{kind}"):
                    t0 = time.perf_counter()
                    _rows, check = req()
                    dt = time.perf_counter() - t0
                ok = check()
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok, dt = False, None
            self.op(ok, f"read {kind}")
            if dt is not None:
                lat.setdefault(kind, []).append(dt)

    # -- catalog -----------------------------------------------------------
    def catalog_pass(self) -> tuple[float, dict]:
        """One pass over the catalog, each result materialised on the
        driver. Returns the summed wall of the queries and their results."""
        from maritime_activity_reports_cdc_spark.queries import QUERIES

        wall, results = 0.0, {}
        for name in CATALOG:
            try:
                with self.tracer.span(f"catalog.{name}"):
                    t0 = time.perf_counter()
                    results[name] = QUERIES[name].fn(self.spark, inputs.CATALOG_DIR).toPandas()
                    wall += time.perf_counter() - t0
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                self.op(False, f"catalog {name}")
        return wall, results

    def check_oracle(self, results: dict) -> None:
        """Every catalog result against its DuckDB oracle twin."""
        from maritime_activity_reports_cdc_spark.queries import QUERIES

        for name, pdf in results.items():
            sql = QUERIES[name].sql
            try:
                ok = sql is None or gate.oracle_matches(
                    pdf, sql, inputs.CATALOG_DIR, inputs.CATALOG_TABLES)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                ok = False
            self.op(ok, f"catalog {name} vs oracle")

    # -- phases ------------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        self.inp = self.prepare()
        gen_s = time.perf_counter() - t0
        t = time.perf_counter()
        self.preloaded = None
        if self.args.workload == "sparse_tail":
            self.preloaded = self.preload(self.inp, self._dir("preloaded"))
        preload_s = time.perf_counter() - t
        # the dense warm-up: one ingest pass, unchecked (the sparse tail's
        # is its pre-load)
        t = time.perf_counter()
        if self.args.workload == "dense_backfill":
            self.ingest_pass(0)
            for d in ("lake0", "lake0_ckpt"):
                shutil.rmtree(self._dir(d), ignore_errors=True)
        warmup_s = time.perf_counter() - t
        self.setup_s = time.perf_counter() - t0 + self.jvm_s
        # reference state for the checks (outside the set-up clock)
        t_ref = time.perf_counter()
        self.expected = gate.fold(self.inp.paths)
        groups = {c: g for c, g in self.expected.groupby("conv_id")}
        empty = self.expected.iloc[0:0]
        self.expected_by_conv = lambda c: groups.get(c, empty)
        self.live = set(groups)
        self.recent = self._recent_convs()
        self.shape = self._shape()
        self.change_rows = 0
        self.detail["setup"] = {
            "jvm_start_s": self.jvm_s, "inputs_s": gen_s, "preload_s": preload_s,
            "warmup_ingest_s": warmup_s,
            "check_reference_s": time.perf_counter() - t_ref,
        }

    def _recent_convs(self) -> set:
        import duckdb

        src = ", ".join(f"'{p}/**/*.parquet'" for p in self.inp.paths)
        sql = (f"SELECT DISTINCT conv_id FROM read_parquet([{src}], union_by_name = true, "
               f"hive_partitioning = false) WHERE lsn >= {self.inp.lsn_recent}")
        with duckdb.connect() as con:
            return {r[0] for r in con.execute(sql).fetchall()}

    def _shape(self) -> dict:
        """Epoch count and raw events per epoch, as the replay slices them."""
        import duckdb

        if self.args.workload == "sparse_tail":
            per = [inputs.SPARSE_CONVS_PER_EPOCH * inputs.SPARSE_UPDATES_PER_CONV] * len(
                self.inp.epoch_dirs)
            return {"epochs": len(per), "events_per_epoch": per,
                    "scd2_events": self.inp.n_events - sum(per)}
        src = f"'{self.inp.paths[0]}/**/*.parquet'"
        n = inputs.DENSE_EPOCHS
        sql = f"""WITH b AS (SELECT min(lsn) lo, max(lsn) hi FROM read_parquet({src}))
                  SELECT CAST(floor((lsn - lo) / ((hi - lo + {n}) // {n})) AS INT) AS e, count(*)
                  FROM read_parquet({src}), b GROUP BY e ORDER BY e"""
        with duckdb.connect() as con:
            per = [int(r[1]) for r in con.execute(sql).fetchall()]
        return {"epochs": len(per), "events_per_epoch": per}

    def timed(self) -> dict:
        """The measured phases. Returns raw samples."""
        self.tracer.take()
        pipe, wall = self.ingest_pass(1)
        spans = self.tracer.take()
        self.spans_timed.extend(spans)
        s = {
            "ingest_wall": wall, "epoch_walls": _epoch_walls(spans),
            "gold_lags": _gold_lags(spans), "lat": {}, "catalog_wall": 0.0,
            "routing": {
                "turn": sum(x["name"] == "silver.refresh_silver_turn" for x in spans),
                "conv": sum(x["name"] == "silver.refresh_silver_for_conversations"
                            for x in spans),
            },
        }
        for _ in s["epoch_walls"]:
            self.op(True, "epoch")
        self.check_pass(pipe, "ingest pass")
        if not self.args.trace:
            return s
        # the change feed of the last epoch and the drain after it: the
        # same commits for every seed
        epochs = sorted((x for x in spans if x["name"] == "pipeline.apply_epoch"),
                        key=lambda x: x["start"])
        self.read_round(pipe.root, random.Random(self.args.seed + 1), s["lat"],
                        feed_from=epochs[-2]["silver_version"])
        if self.args.workload == CATALOG_WORKLOAD:
            s["catalog_wall"], results = self.catalog_pass()
            self.check_oracle(results)
        self.spans_timed.extend(self.tracer.take())
        return s


def _epoch_walls(spans) -> list[float]:
    return [x["busy"] for x in spans if x["name"] == "pipeline.apply_epoch"]


def _gold_lags(spans) -> list[float]:
    """Per epoch: from its ``apply_epoch`` start to the end of the later of
    the first summary and first daily refresh stamped with an epoch at
    least as new."""
    starts = {x["epoch"]: x["start"] for x in spans if x["name"] == "pipeline.apply_epoch"}
    ends = {
        fn: sorted((x["end"], x["epoch"]) for x in spans if x["name"] == fn)
        for fn in ("gold.refresh_summary_for_conversations", "gold.refresh_daily_via_index")
    }
    lags = []
    for e, t0 in starts.items():
        done = [next((t for t, ep in ends[fn] if ep is not None and ep >= e), None)
                for fn in ends]
        if all(d is not None for d in done):
            lags.append(max(done) - t0)
    return lags


def e2e_metrics(run: Run, s: dict) -> dict[str, float]:
    med = statistics.median
    return {
        "setup_s": run.setup_s,
        "ingest_events_per_s": run.inp.n_events / s["ingest_wall"],
        "epoch_commit_p50_s": med(s["epoch_walls"]),
        "gold_lag_p50_s": med(s["gold_lags"]),
        "peak_rss_mb": peak_rss_mb(),
    }


def layer_metrics(run: Run, s: dict, spark_rows: dict, extra: dict) -> dict[str, float]:
    spans = run.spans_timed
    fs = sp.fn_stats(spans)
    out: dict[str, float] = {}
    for fn, fields in FN_METRICS.items():
        for f in fields:
            out[f"{fn}.{f}"] = float(fs.get(fn, {}).get(f, 0.0))
    for layer in SPARK_LAYERS:
        row = spark_rows.get(layer, {})
        for m in SPARK_METRICS:
            out[f"{layer}.{m}"] = float(row.get(m, 0.0))
    commits = [x for x in spans if x["name"] in
               ("lake.append", "lake.append_deltas", "lake.replace_partitions")]
    for k in ("write_s", "stats_s", "manifest_s", "files"):
        out[f"lake.commit.{k}"] = float(sum(x.get(k, 0) for x in commits))

    def total(name, key):
        return sum(x.get(key, 0) for x in spans if x["name"] == name)

    def ratio(a, b):
        return a / b if b else 0.0

    bronze_keys = total("bronze.apply_transcript_batch", "n_keys")
    affected = total("silver.compute_affected", "n_keys")
    out["catalog.pass_s"] = s["catalog_wall"]
    for kind, name in (("lookup", "lookup_p50_s"), ("gold", "gold_query_p50_s"),
                       ("feed", "feed_read_s")):
        out[f"lake_read.{name}"] = statistics.median(s["lat"][kind])
    out["lake_read.input_bytes"] = float(spark_rows.get("lake_read", {}).get("input_bytes", 0))
    out["bronze.keys_per_event"] = ratio(bronze_keys, run.inp.n_events)
    out["silver.rows_written_per_key"] = ratio(
        spark_rows.get("silver", {}).get("output_rows", 0), bronze_keys)
    out["gold.rows_written_per_affected_conv"] = ratio(
        spark_rows.get("gold", {}).get("output_rows", 0), affected)
    out["changefeed.rows_read_per_change_row"] = ratio(
        spark_rows.get("changefeed", {}).get("input_rows", 0), run.change_rows)
    out["maint.busy_share"] = ratio(fs.get("apply.compact", {}).get("busy_s", 0.0),
                                    s["ingest_wall"])
    # the part of the epoch wall no named child span on the relay thread
    # covers: orchestration and waits on the overlap pool, the previous
    # flush or the maintenance task
    epoch = fs.get("pipeline.apply_epoch", {})
    out["pipeline.apply_epoch.self_share"] = ratio(epoch.get("self_s", 0.0),
                                                   epoch.get("busy_s", 0.0))
    out.update(extra)
    return out


def baseline_child(args, host: dict, work: str) -> int:
    """Single-thread reference for ``runner.speedup_1_to_n``: the dense
    replay on one task thread after the same input generation and warm-up
    pass as the ``nproc`` run, with no layer wrappers installed."""
    spark = start_spark(host, work, None)
    try:
        run = Run(args, host, work)
        run.spark = spark
        run.inp = run.prepare()
        run.ingest_pass(0)
        _pipe, wall = run.ingest_pass(1)
    finally:
        stop_spark(spark)
    print(json.dumps({"ingest_wall_s": wall}))
    return 0


def single_thread_wall(args, timeout: float) -> float | None:
    """The child's ingest wall, or None when it does not finish in time."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
           "--baseline-child"]
    # its own session, so a timeout stops the child's JVM with it
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=max(timeout, 1.0))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print("perfbench: single-thread baseline timed out", file=sys.stderr)
        return None
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError("single-thread baseline failed")
    return json.loads(out.strip().splitlines()[-1])["ingest_wall_s"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--baseline-child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    checkout = os.getcwd()
    if not os.path.isdir(os.path.join(checkout, PKG)):
        print(f"perfbench: no {PKG}/ package in {checkout}; run from the repo root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    work = os.path.join(checkout, ".bench_work", f"run-{os.getpid()}")
    if args.baseline_child:
        # inside the parent's work directory, which the parent removes
        work = os.path.join(checkout, ".bench_work", f"run-{os.getppid()}", "child")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        if args.baseline_child:
            # same buckets and shuffle width as the nproc run, one task thread
            return baseline_child(args, {**host_sizing(), "cores": 1}, work)
        return bench(args, checkout, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, checkout: str, work: str) -> int:
    host = host_sizing()
    run = Run(args, host, work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    run.spark = start_spark(host, work, event_log)
    run.jvm_s = time.perf_counter() - t0
    try:
        run.tracer = sp.Tracer()
        sp.install_clock(run.tracer)
        run.setup()
        run.spans_timed = []
        if args.trace:
            # the traced window starts with the first pass after set-up, the
            # same position as the timed pass of the untraced runs
            run.tracer.uninstall()
            run.tracer = sp.Tracer(run.spark.sparkContext)
            sp.install_layers(run.tracer)
        t_window = time.time()
        s = run.timed()
        window = (t_window, time.time())
        metrics = e2e_metrics(run, s)
    finally:
        run.tracer.uninstall()
        stop_spark(run.spark)

    named = {
        ("backfill_events_per_s" if args.workload == "dense_backfill"
         else "tail_events_per_s"): metrics["ingest_events_per_s"],
        **{k: v for k, v in metrics.items() if k != "ingest_events_per_s"},
    }
    run.detail.update({
        "shape": {**run.shape, "routing": s["routing"]},
        "named_metrics": named,
        "failed_ops_ratio": {"value": len(run.failed) / max(run.attempted, 1), "unit": "ratio"},
        "samples": {k: v for k, v in s.items() if k != "routing"},
        "failed": run.failed,
    })
    if args.trace:
        run.detail["traced_e2e"] = metrics
        extra = {"runner.speedup_1_to_n": 0.0}
        if args.workload == "dense_backfill":
            # the nproc wall is this run's traced pass: the ratio reads low
            # by the tracing overhead summarize.py reports
            one = single_thread_wall(args, RUN_LIMIT_S - (time.perf_counter() - T_START))
            run.detail["speedup"] = {"one_thread_wall_s": one, "nproc_wall_s": s["ingest_wall"]}
            if one is not None:
                extra["runner.speedup_1_to_n"] = one / s["ingest_wall"]
        rows = sp.fold_event_log(event_log, window)
        out = layer_metrics(run, s, rows, extra)
        run.detail["spark_layers"] = rows
        units = per_layer_units()
    else:
        out, units = metrics, E2E_UNITS
    os.makedirs(os.path.join(checkout, ".bench_out"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(checkout, ".bench_out", f"{tag}.json"), "w") as fh:
        json.dump({**run.detail, "metrics": out}, fh, indent=1, default=str)
    print(json.dumps({"perfbench": run.detail}, default=str))
    correct = not run.failed
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": len(run.failed),
        "metrics": {k: {"value": out[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        sys.exit(1)
