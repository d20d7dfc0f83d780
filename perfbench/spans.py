"""Layer spans from outside the engine, plus Spark task metrics per layer.

``Tracer.wrap`` replaces a module attribute or class method — the name the
engine's caller looks up at call time — with a wrapper that records one
span per call: wall start/end, the calling thread, and self time (busy time
minus the time of child spans in the same thread). With a SparkContext the
wrapper also sets the ``perfbench.stack`` local property in whichever
thread enters it (relay, overlap pool, ``derived-flush``, ``maintenance``)
and restores the previous value on exit, so every Spark job carries the
span stack that submitted it. ``fold_event_log`` then folds the event
log's ``JobStart`` properties and ``TaskEnd`` metrics into per-layer rows;
a job counts toward every layer on its stack (inclusive, like busy time).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

STACK_PROP = "perfbench.stack"


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc  # None: clock only, no Spark job tagging
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple] = []

    # -- span bookkeeping -------------------------------------------------
    def _frames(self) -> list:
        if not hasattr(self._tls, "frames"):
            self._tls.frames = []
        return self._tls.frames

    @contextmanager
    def span(self, name: str, **extra):
        frames = self._frames()
        frame = {"name": name, "child": 0.0}
        frames.append(frame)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(STACK_PROP)
            self.sc.setLocalProperty(STACK_PROP, ";".join(f["name"] for f in frames))
        t0 = time.perf_counter()
        try:
            yield extra
        finally:
            t1 = time.perf_counter()
            frames.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(STACK_PROP, prev)
            busy = t1 - t0
            if frames:
                frames[-1]["child"] += busy
            rec = {
                "name": name, "thread": threading.current_thread().name,
                "start": t0, "end": t1, "busy": busy, "self": busy - frame["child"],
                "depth": len(frames), **extra,
            }
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, epoch_pos: int | None = None,
             on_return=None) -> None:
        """Wrap ``owner.attr``. ``epoch_pos``: positional index of the
        ``epoch`` argument, recorded on the span. ``on_return(result,
        args, extra)`` may add fields to the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = {}
            if epoch_pos is not None:
                e = kwargs.get("epoch", args[epoch_pos] if len(args) > epoch_pos else None)
                extra["epoch"] = e
            with self.span(name, **extra) as rec:
                result = orig(*args, **kwargs)
                if on_return is not None:
                    on_return(result, args, rec)
                return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def take(self) -> list[dict]:
        with self._lock:
            out, self.spans = self.spans, []
        return out


def _n_keys(result, _args, rec) -> None:
    rec["n_keys"] = int(getattr(result, "n_keys", 0) or 0)


def _silver_version(_result, args, rec) -> None:
    rec["silver_version"] = args[0].silver.current_version()


def _commit_profile(_result, args, rec) -> None:
    prof = getattr(args[0], "last_commit_profile", None) or {}
    rec["write_s"] = prof.get("write_secs", 0.0)
    rec["stats_s"] = prof.get("stats_secs", 0.0)
    rec["manifest_s"] = prof.get("manifest_secs", 0.0)
    rec["files"] = prof.get("files", 0)


def install_clock(tracer: Tracer) -> None:
    """The wrappers the end-to-end metrics need: epoch commit wall (and the
    silver version it left, where the change-feed reads start), gold flush
    completion per epoch, and the silver plan each epoch took."""
    from maritime_activity_reports_cdc_spark.plans import gold, silver
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline

    tracer.wrap(MedallionPipeline, "apply_epoch", "pipeline.apply_epoch", epoch_pos=2,
                on_return=_silver_version)
    tracer.wrap(gold, "refresh_summary_for_conversations",
                "gold.refresh_summary_for_conversations", epoch_pos=3)
    tracer.wrap(gold, "refresh_daily_via_index", "gold.refresh_daily_via_index", epoch_pos=5)
    # which silver refresh plan each epoch took (the dense/sparse routing)
    tracer.wrap(silver, "refresh_silver_turn", "silver.refresh_silver_turn")
    tracer.wrap(silver, "refresh_silver_for_conversations",
                "silver.refresh_silver_for_conversations")


def install_layers(tracer: Tracer) -> None:
    """Every layer's public entry points, wrapped where their callers look
    them up (the pipeline calls ``silver_plan.X``, ``gold_plan.X``,
    ``bronze_plan.X``, ``scd2_op.X`` and imports ``apply.compact`` at call
    time; lake methods are looked up on the class)."""
    from maritime_activity_reports_cdc_spark.operators import apply, changefeed, scd2
    from maritime_activity_reports_cdc_spark.plans import bronze, silver
    from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
    from maritime_activity_reports_cdc_spark.sources.lake import LakeTable
    from maritime_activity_reports_cdc_spark.streaming.runner import CheckpointedReplayer

    install_clock(tracer)
    w = tracer.wrap
    w(CheckpointedReplayer, "run", "runner.run")
    w(MedallionPipeline, "finalize", "pipeline.finalize")
    w(silver, "compute_affected", "silver.compute_affected", on_return=_n_keys)
    w(bronze, "apply_transcript_batch", "bronze.apply_transcript_batch", on_return=_n_keys)
    w(apply, "compact", "apply.compact")
    for fn in ("append", "append_deltas", "replace_partitions"):
        w(LakeTable, fn, f"lake.{fn}", on_return=_commit_profile)
    w(LakeTable, "snapshot", "lake.snapshot")
    w(LakeTable, "read_partitions", "lake.read_partitions")
    w(changefeed, "read_changes", "changefeed.read_changes")
    w(scd2, "apply_scd2", "scd2.apply_scd2")


# -- span statistics --------------------------------------------------------

def fn_stats(spans: list[dict]) -> dict[str, dict]:
    out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "busy_s": 0.0, "self_s": 0.0})
    for s in spans:
        row = out[s["name"]]
        row["calls"] += 1
        row["busy_s"] += s["busy"]
        row["self_s"] += s["self"]
    return dict(out)


# -- event log ----------------------------------------------------------------

SPARK_COLS = ("task_s", "gc_s", "spill_bytes", "shuffle_write_bytes",
              "shuffle_read_bytes", "output_rows", "input_bytes", "input_rows")


def fold_event_log(log_dir: str, window: tuple[float, float]) -> dict[str, dict[str, float]]:
    """Per-layer Spark task metrics of the jobs submitted inside
    ``window`` (wall-clock seconds). A layer is the first dotted part of a
    span name; untagged jobs fold into ``untagged``."""
    lo_ms, hi_ms = window[0] * 1000.0, window[1] * 1000.0
    job_layers: dict[int, set[str]] = {}
    stage_job: dict[int, int] = {}
    rows: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_COLS, 0.0))
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if not lo_ms <= ev.get("Submission Time", 0) <= hi_ms:
                        continue
                    stack = (ev.get("Properties") or {}).get(STACK_PROP) or ""
                    layers = {n.split(".", 1)[0] for n in stack.split(";") if n} or {"untagged"}
                    job_layers[ev["Job ID"]] = layers
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is None:
                        continue
                    layers = job_layers[job]
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    vals = {
                        "task_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "output_rows": (m.get("Output Metrics") or {}).get("Records Written", 0),
                        "input_bytes": inp.get("Bytes Read", 0),
                        "input_rows": inp.get("Records Read", 0),
                    }
                    for layer in layers:
                        row = rows[layer]
                        for k, v in vals.items():
                            row[k] += v
    return dict(rows)
