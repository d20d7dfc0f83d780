"""Change-feed runners.

Two ways to tail the change log, both driving the SAME relay body
(``MedallionPipeline.apply_epoch``), mirroring how the reference drives
identical microbatch functions from Delta-CDF streams
(``silver/cdf_processor.py:83-88`` in /root/reference, S8):

1. ``CheckpointedReplayer`` — engine-owned offsets: the change log is an
   LSN-ordered table; epochs are contiguous LSN ranges; the committed
   high-water mark lives in a JSON checkpoint written with the same
   atomic-rename discipline as lake commits. This is the bounded-replay
   ("availableNow") and benchmark path — it resumes from a crash at the
   last committed epoch (SURVEY.md §2.10 T2's engine-owned offsets row).

2. ``start_stream`` — genuine Structured Streaming over a file-based
   change feed (``readStream.parquet``) with ``foreachBatch`` +
   ``checkpointLocation``, for continuous operation. Exactly-once holds
   even if Spark replays a batch: the relay's epoch guard makes the
   second apply a no-op (the reference relies on MERGE idempotence alone,
   which breaks for its non-idempotent branches — G5).

The relay always runs the gold flush and compaction on background
threads, as the reference runs gold as its own, slower-triggered
queries. The replayer lets the flush overlap the next epoch and drains
everything at ``finalize``; ``start_stream`` drains the flush at the end
of every batch, so a finished batch means current gold.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.plans.pipeline import EpochMetrics, MedallionPipeline
from maritime_activity_reports_cdc_spark.sources.generator import CHANGE_SCHEMA


@dataclass
class ReplayReport:
    epochs_run: int
    epochs_skipped: int
    events: int
    wall_secs: float
    events_per_sec: float
    metrics: list[EpochMetrics]


class CheckpointedReplayer:
    """Bounded, resumable replay of an LSN-ordered change log."""

    def __init__(self, pipeline: MedallionPipeline, checkpoint_dir: str):
        self.pipeline = pipeline
        self.checkpoint_dir = checkpoint_dir
        os.makedirs(checkpoint_dir, exist_ok=True)

    # -- checkpoint bookkeeping (atomic-rename JSON) --------------------
    def _ckpt_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "offsets.json")

    def read_checkpoint(self) -> dict:
        path = self._ckpt_path()
        if not os.path.exists(path):
            return {"last_epoch": -1, "lsn_high": None, "lsn_lo": None, "step": None}
        with open(path) as fh:
            return json.load(fh)

    def write_checkpoint(self, state: dict) -> None:
        tmp = self._ckpt_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.replace(tmp, self._ckpt_path())

    # -- prechunk store ---------------------------------------------------
    @staticmethod
    def _materialize_chunks(
        changes: DataFrame, chunk_dir: str, lo: int, step: int, mode: str
    ) -> None:
        (
            changes.withColumn(
                "_chunk", ((F.col("lsn") - F.lit(lo)) / F.lit(step)).cast("int")
            )
            .repartition(F.col("_chunk"))
            .write.partitionBy("_chunk")
            .mode(mode)
            .parquet(chunk_dir)
        )

    @staticmethod
    def _read_chunk_meta(chunk_dir: str) -> int | None:
        path = os.path.join(chunk_dir, "_META.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return int(json.load(fh)["materialized_hi"])

    @staticmethod
    def _write_chunk_meta(chunk_dir: str, materialized_hi: int) -> None:
        path = os.path.join(chunk_dir, "_META.json")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump({"materialized_hi": materialized_hi}, fh)
        os.replace(tmp, path)

    # -- replay ----------------------------------------------------------
    def run(
        self,
        changes: DataFrame,
        n_chunks: int = 8,
        fail_after_epoch: int | None = None,
        prechunk: bool | None = None,
        start_epoch: int = 0,
    ) -> ReplayReport:
        """Split the log into LSN-range epochs and relay each through the
        pipeline, committing the checkpoint after every epoch.

        ``prechunk`` (default: on when n_chunks > 2): materialize the log
        ONCE as chunk-partitioned parquet under the checkpoint dir and
        read only each epoch's own files. Without it every epoch's
        ``lsn BETWEEN`` filter re-scans the whole log (random LSN order
        defeats row-group pruning), so an N-chunk replay costs N full
        fat-column log scans; with it, one scan + one write total. The
        chunk store also survives crashes, so a resume reads only the
        remaining chunks.

        ``fail_after_epoch`` injects a crash (for restart tests).
        """
        lo, hi = changes.agg(F.min("lsn"), F.max("lsn")).collect()[0]
        if lo is None:
            return ReplayReport(0, 0, 0, 0.0, 0.0, [])
        lo = int(lo)
        span = int(hi) - lo + 1
        state = self.read_checkpoint()
        # Epoch boundaries are a pure function of (lsn_lo, step), PERSISTED
        # in the checkpoint: a resume re-slices exactly the ranges the
        # committed epochs covered even if the caller passes a different
        # n_chunks or the log grew (new LSNs extend the chunk sequence).
        # A log whose min LSN moved is a different stream — fail fast.
        if state.get("step") is not None:
            if state["lsn_lo"] != lo:
                raise ValueError(
                    f"checkpoint was written for a log starting at lsn "
                    f"{state['lsn_lo']}, this log starts at {lo} — refusing "
                    "to realign epoch boundaries"
                )
            step = int(state["step"])
        else:
            step = max(1, (span + n_chunks - 1) // n_chunks)
        start = time.monotonic()
        if prechunk is None:
            # Auto only for MANY chunks: the one-time chunk materialization
            # costs a full shuffle+write (~2 log passes) and saves (N-1)
            # fat scans — measured net-negative at N<=4 locally.
            prechunk = (span + step - 1) // step > 6
        chunk_dir = os.path.join(self.checkpoint_dir, "chunks")
        if prechunk:
            # The chunk store records the max LSN it was materialized for
            # (_META.json, atomic rename): on resume, a log that GREW past
            # that point gets its tail materialized into the same
            # partitioned store before replay. Without this, chunk indices
            # beyond the original span have no directory and would be
            # mistaken for empty epochs — advancing the checkpoint past
            # real rows (round-2 review finding).
            mat_hi = self._read_chunk_meta(chunk_dir)
            if not os.path.exists(os.path.join(chunk_dir, "_SUCCESS")) or mat_hi is None:
                self._materialize_chunks(changes, chunk_dir, lo, step, mode="overwrite")
                self._write_chunk_meta(chunk_dir, int(hi))
            elif mat_hi < int(hi):
                tail = changes.where(F.col("lsn") > mat_hi)
                self._materialize_chunks(tail, chunk_dir, lo, step, mode="append")
                self._write_chunk_meta(chunk_dir, int(hi))
        metrics: list[EpochMetrics] = []
        try:
            skip_count = self._replay_epochs(
                changes, lo, span, step, state, prechunk, chunk_dir,
                start_epoch, fail_after_epoch, metrics,
            )
        except BaseException:
            # on an abnormal exit the in-flight flush and compaction must
            # not keep writing while a restarted pipeline takes over —
            # drain them, suppressing only THEIR failures (secondary to
            # the one propagating; the success path surfaces them via
            # finalize's own waits below)
            try:
                self.pipeline._wait_flush()
            except Exception:  # noqa: BLE001
                pass
            try:
                self.pipeline._wait_maintenance()
            except Exception:  # noqa: BLE001
                pass
            raise
        run_count = len(metrics)
        events = sum(m.n_events for m in metrics)
        # bounded replay epilogue: flush any pending derived refreshes
        # (derived_every cadence) so the final gold state is complete
        self.pipeline.finalize()
        self.pipeline.flush_observability()
        wall = time.monotonic() - start
        return ReplayReport(
            run_count, skip_count, events, wall, events / wall if wall > 0 else 0.0, metrics
        )

    def _replay_epochs(
        self, changes, lo, span, step, state, prechunk, chunk_dir,
        start_epoch, fail_after_epoch, metrics,
    ) -> int:
        """Inner epoch loop; returns the skip count. Split out so the
        caller can drain the background work around it."""
        skip_count = 0
        i = -1
        while True:
            i += 1
            c_lo = lo + i * step
            if c_lo >= lo + span:
                break
            if i <= state["last_epoch"]:
                skip_count += 1
                continue
            c_hi = min(c_lo + step, lo + span)
            if prechunk:
                epoch_dir = os.path.join(chunk_dir, f"_chunk={i}")
                if os.path.exists(epoch_dir):
                    chunk = changes.sparkSession.read.schema(changes.schema).parquet(epoch_dir)
                else:  # chunk with no rows
                    chunk = changes.sparkSession.createDataFrame([], changes.schema)
            else:
                chunk = changes.where((F.col("lsn") >= c_lo) & (F.col("lsn") < c_hi))
            # ``start_epoch`` offsets the PIPELINE epoch ids (two-stage
            # replays: initial load then an update feed with its own
            # checkpoint); the checkpoint itself tracks chunk indices.
            m = self.pipeline.apply_epoch(chunk, epoch=start_epoch + i)
            metrics.append(m)
            state = {"last_epoch": i, "lsn_high": c_hi - 1, "lsn_lo": lo, "step": step}
            self.write_checkpoint(state)
            if fail_after_epoch is not None and i >= fail_after_epoch:
                raise RuntimeError(f"injected crash after epoch {i}")
        return skip_count


def start_stream(
    spark: SparkSession,
    pipeline: MedallionPipeline,
    feed_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Structured Streaming tail of a parquet change feed directory.

    Returns the StreamingQuery; caller drives it (``processAllAvailable``
    in tests, ``awaitTermination`` in production). Batch ids become relay
    epochs, so Spark-side batch replay after a checkpoint rollback is
    absorbed by the per-table epoch guards.
    """
    def _relay(df, batch_id):
        pipeline.apply_epoch(df, epoch=batch_id)
        # drain the background derived flush inside the batch body:
        # foreachBatch completion must mean gold is current (consumers
        # read between triggers); the bounded replayer keeps the
        # cross-epoch overlap instead. Compaction stays in the
        # background across batches.
        pipeline._wait_flush()
        pipeline.flush_observability()

    stream = spark.readStream.schema(CHANGE_SCHEMA).parquet(feed_dir)
    writer = stream.writeStream.queryName("transcript_changes").foreachBatch(
        _relay
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_meta_stream(
    spark: SparkSession,
    pipeline: MedallionPipeline,
    feed_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Structured Streaming tail of the conversation-METADATA change feed,
    driving the SCD2 conv-master relay — the reference runs this as a
    parallel query next to the movements stream
    (``silver/cdf_processor.py:93-138`` in /root/reference). Exactly-once
    via the SCD2 table's own epoch watermark."""
    from maritime_activity_reports_cdc_spark.sources.generator import (
        CONV_META_CHANGE_SCHEMA,
    )

    def _relay(df, batch_id):
        pipeline.apply_meta_epoch(df, epoch=batch_id)

    stream = spark.readStream.schema(CONV_META_CHANGE_SCHEMA).parquet(feed_dir)
    writer = stream.writeStream.queryName("conv_meta_changes").foreachBatch(
        _relay
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def start_all_streams(
    manager,
    spark: SparkSession,
    pipeline: MedallionPipeline,
    transcript_feed: str,
    meta_feed: str | None,
    checkpoint_root: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Register both change feeds (transcripts + SCD2 metadata) with a
    ``StreamManager`` — the engine's analog of the reference's
    ``start_all_streaming_queries`` (``silver/streaming_processor.py:
    50-75``). Each query gets a restart factory resuming from its own
    checkpoint."""
    qs = [
        manager.register(
            "transcript_changes",
            lambda: start_stream(
                spark, pipeline, transcript_feed,
                os.path.join(checkpoint_root, "transcripts"),
                available_now=available_now, processing_time=processing_time,
            ),
        )
    ]
    if meta_feed is not None:
        qs.append(
            manager.register(
                "conv_meta_changes",
                lambda: start_meta_stream(
                    spark, pipeline, meta_feed,
                    os.path.join(checkpoint_root, "conv_meta"),
                    available_now=available_now, processing_time=processing_time,
                ),
            )
        )
    return qs
