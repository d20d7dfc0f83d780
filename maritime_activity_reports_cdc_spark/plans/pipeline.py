"""Medallion relay: change batch -> bronze -> silver -> gold, exactly-once
per layer, with per-partition lineage and per-epoch metrics.

The reference chains three Delta-CDF streaming hops
(``orchestrator/cdc_cdf_orchestrator.py:62-86`` in /root/reference); here
the relay is a single epoch-driven function — the batch body that both the
chunked replayer and the Structured Streaming ``foreachBatch`` wrapper
call (SURVEY.md §2.10 T6, single-action design, no repeated count()
guards — G4 fix).

Exactly-once across a multi-table relay: each layer table tracks its own
``(source, epoch)`` watermark in its snapshot chain, so a crash BETWEEN
layers resumes correctly — bronze skips the epoch it already committed,
silver/gold apply it. No cross-table transaction is needed because every
layer's refresh is a deterministic function of (upstream state, epoch
batch).
"""

from __future__ import annotations

import logging
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.config import BRONZE_MODES, LAYER_MODES
from maritime_activity_reports_cdc_spark.operators import scd2 as scd2_op
from maritime_activity_reports_cdc_spark.plans import bronze as bronze_plan
from maritime_activity_reports_cdc_spark.plans import gold as gold_plan
from maritime_activity_reports_cdc_spark.plans import silver as silver_plan
from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

_log = logging.getLogger(__name__)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("lsn_min", T.LongType(), True),
        T.StructField("lsn_max", T.LongType(), True),
        T.StructField("n_upserts", T.LongType(), True),
        T.StructField("n_deletes", T.LongType(), True),
        T.StructField("snapshot_version", T.LongType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("epoch", T.LongType(), False),
        T.StructField("n_events", T.LongType(), True),
        T.StructField("n_keys", T.LongType(), True),
        T.StructField("n_upserts", T.LongType(), True),
        T.StructField("n_deletes", T.LongType(), True),
        T.StructField("bronze_secs", T.DoubleType(), True),
        T.StructField("silver_secs", T.DoubleType(), True),
        T.StructField("gold_secs", T.DoubleType(), True),
        T.StructField("total_secs", T.DoubleType(), True),
        T.StructField("events_per_sec", T.DoubleType(), True),
    ]
)


@dataclass
class EpochMetrics:
    epoch: int
    n_events: int
    n_keys: int
    n_upserts: int
    n_deletes: int
    bronze_secs: float
    silver_secs: float
    gold_secs: float
    total_secs: float

    @property
    def events_per_sec(self) -> float:
        return self.n_keys / self.total_secs if self.total_secs > 0 else 0.0


@dataclass
class MedallionPipeline:
    spark: SparkSession
    root: str
    n_buckets: int = 16
    with_gold: bool = True
    with_daily: bool = True
    bronze_mode: str = "cow"  # 'cow' | 'mor' (write-optimized + compaction)
    compact_every: int = 8  # MoR: fold deltas into base every N epochs
    # Silver refresh plan: 'cow' rewrites the affected buckets per epoch
    # (read-optimized), 'turn' appends turn-level key-MoR deltas (O(batch)
    # fat work per epoch), 'auto' picks turn or cow per epoch from the
    # batch's key density. Gold tables are always rewritten per key group.
    layer_mode: str = "cow"
    # Fold deltas into the base once any partition's delta DEPTH (files a
    # single-partition reader must resolve — the read-tax proxy) reaches
    # this bound; fires independently of the epoch cadence.
    compact_delta_depth: int = 8
    # Run the gold summary and daily refreshes concurrently (separate
    # tables, both downstream of the silver write) — overlaps their
    # driver-side plan/commit serial fractions.
    parallel_layers: bool = True
    # Overlap the bronze apply with the turn-level silver refresh: the
    # refresh derives its state from the PRE-apply snapshot overlaid
    # with the batch winners (associative dedup), so the two commits
    # have no data dependency. Turn/auto sparse epochs only; under
    # overlap EpochMetrics reports the joint wall in silver_secs.
    overlap_layers: bool = True
    # Refresh the derived gold layers every N epochs instead of every
    # epoch — the reference's OWN trigger design (silver fires at 30 s,
    # gold reports at 60 s, gold analytics at 90 s: models/config.py:44 +
    # cdf_processor trigger multiples). Pending affected sets/dates
    # accumulate and one combined refresh covers them, so the FINAL state
    # (after finalize()) is identical to per-epoch refresh; only
    # intermediate gold freshness trades off, exactly as in the
    # reference. Use >1 in the bounded replayer (which finalize()s at the
    # end); keep 1 for continuous streaming.
    derived_every: int = 1
    # Chunk size for the two-phase mega-conversation window (None = the
    # plain per-bucket window; set when single conversations can exceed
    # ~10^5 turns so no window task serializes one conversation).
    mega_conv_chunk: int | None = None
    # Retention maintenance cadence: when set, every table expires
    # snapshots down to the newest N after an epoch whose derived work is
    # fully flushed (pending date-frames pin PRE-refresh file lists, so
    # expiry only runs when nothing is pinned). None = manual/CLI only.
    expire_keep_last: int | None = None
    bronze: LakeTable = field(init=False)
    silver: LakeTable = field(init=False)
    summary: LakeTable | None = field(init=False, default=None)
    daily: LakeTable | None = field(init=False, default=None)
    # conv×date activity index behind the daily rollup: date discovery
    # + daily recompute read THIS tiny date-partitioned table instead of
    # scanning silver (see gold.CONV_DATES_SCHEMA)
    conv_dates: LakeTable | None = field(init=False, default=None)
    lineage: LakeTable = field(init=False)
    metrics: LakeTable = field(init=False)
    conv_master: LakeTable | None = field(init=False, default=None)
    _pending_lineage: list = field(init=False, default_factory=list)
    _pending_metrics: list = field(init=False, default_factory=list)
    # (epoch, AffectedSet, dates_df) awaiting the next derived refresh
    _pending_derived: list = field(init=False, default_factory=list)
    # set when a loaded pipeline's gold watermark trails silver (crash
    # mid-cadence): the next derived refresh rebuilds gold from full
    # silver state instead of an (unknowable) incremental set
    _derived_behind: bool = field(init=False, default=False)
    # Run each derived flush on a background driver thread, overlapped
    # with the NEXT epoch's bronze/silver work (the flush writes only
    # gold tables; the next epoch writes only bronze/silver — disjoint
    # commit targets, and the flush constructs its read plans against
    # whatever silver snapshot is current when it runs, which is always
    # a superset-fresh state for its affected conversations — a later
    # flush re-covers those conversations, so the final state converges
    # exactly as with the derived_every cadence). At most ONE flush is
    # in flight; the next flush/finalize/expiry waits. A flush failure
    # surfaces on that wait — same crash semantics as the synchronous
    # path (epoch guards + behind-detection rebuild on resume).
    # OFF by default: a direct apply_epoch caller must read current gold
    # right after the call returns (least surprise). Drivers that
    # guarantee a drain point enable it for their duration — the bounded
    # CheckpointedReplayer does (finalize() at the end), and that is
    # where the overlap pays: the flush hides behind the next epoch's
    # bronze/silver wall.
    async_derived: bool = False
    _flush_future: object = field(init=False, default=None)
    _flush_pool: object = field(init=False, default=None)
    # Run layer compactions on a background driver thread, overlapped
    # with subsequent epochs' ingest. Sound because commits are
    # optimistically concurrent (sources/lake.py): the ingest path's
    # delta APPENDS rebase through a racing compaction commit, and the
    # compaction's REPLACE validates that nothing touched its partitions
    # between read and commit — a mid-flight delta append makes it
    # re-read (folding the new delta too) and retry, never clobber.
    # Readers are snapshot-isolated (superseded files persist until
    # expiry, which drains maintenance first). One in flight; failures
    # surface at the next drain point. OFF by default (same least-
    # surprise contract as async_derived); the bounded replayer enables
    # both — compaction cost then hides behind ingest instead of
    # stalling an epoch (the sparse-floor profile's single biggest
    # non-compute wall chunk).
    async_maintenance: bool = False
    _maint_future: object = field(init=False, default=None)
    _maint_pool: object = field(init=False, default=None)
    # Background compactions run on a CLONED SparkSession (same context,
    # separate SQLConf) with the shuffle width pinned to the session
    # default and AQE on: the relay narrows the MAIN session's width per
    # sparse epoch (and disables AQE inside apply_epoch), and SQLConf is
    # session-global — without the clone a whole-table compaction
    # planned mid-sparse-epoch inherits a tiny shuffle width (and the
    # two threads race on set/restore). Perf isolation only; commits
    # stay safe via the optimistic-concurrency protocol either way.
    _maint_session: object = field(init=False, default=None)
    # compactions requested during the CURRENT epoch (bronze + silver can
    # both come due on the same epoch); submitted as ONE background task
    # at the end of the epoch so they don't drain each other mid-epoch
    _maint_requests: list = field(init=False, default_factory=list)
    # session shuffle width captured at the first adaptive epoch; the
    # relay re-asserts a per-epoch width (narrow for sparse epochs, the
    # default for dense) and restores the session default at finalize /
    # observability flush — NOT per epoch, so the background derived
    # flush inherits the narrow width its data was sized for
    _session_shuffle_default: str | None = field(init=False, default=None)

    CONV_META_ATTRS = T.StructType(
        [
            T.StructField("title", T.StringType(), True),
            T.StructField("model", T.StringType(), True),
            T.StructField("channel", T.StringType(), True),
            T.StructField("owner", T.StringType(), True),
        ]
    )

    # ------------------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, root: str, n_buckets: int = 16,
               with_gold: bool = True, with_daily: bool = True,
               bronze_mode: str = "cow", compact_every: int = 8,
               layer_mode: str = "cow",
               compact_delta_depth: int = 8,
               derived_every: int = 1) -> "MedallionPipeline":
        if layer_mode not in LAYER_MODES:
            raise ValueError(
                f"layer_mode must be {'|'.join(LAYER_MODES)}, got {layer_mode!r}"
            )
        if bronze_mode not in BRONZE_MODES:
            raise ValueError(
                f"bronze_mode must be {'|'.join(BRONZE_MODES)}, got {bronze_mode!r}"
            )
        p = cls(spark, root, n_buckets, with_gold, with_daily, bronze_mode,
                compact_every, layer_mode, compact_delta_depth)
        p.derived_every = derived_every
        os.makedirs(root, exist_ok=True)
        p.bronze = bronze_plan.create_transcripts_table(
            spark, p._p("bronze_transcripts"), n_buckets, apply_mode=bronze_mode
        )
        p.silver = silver_plan.create_silver_table(
            spark, p._p("silver_transcripts"), n_buckets, layer_mode=layer_mode
        )
        if with_gold:
            p.summary = gold_plan.create_summary_table(
                spark, p._p("gold_conversation_summary"), n_buckets
            )
        if with_daily:
            p.daily = gold_plan.create_daily_table(spark, p._p("gold_daily_rollup"))
            p.conv_dates = gold_plan.create_conv_dates_table(spark, p._p("gold_conv_dates"))
        # SCD2 conversation-master dimension (reference vessel_metadata /
        # vessel_master flow, M1/M3) — maintained from the separate
        # conv_meta change feed via apply_meta_epoch.
        p.conv_master = scd2_op.create_scd2_table(
            spark, p._p("silver_conv_master"), cls.CONV_META_ATTRS, n_buckets=n_buckets
        )
        p.lineage = LakeTable.create(spark, p._p("_lineage"), LINEAGE_SCHEMA, properties={})
        p.metrics = LakeTable.create(spark, p._p("_metrics"), METRICS_SCHEMA, properties={})
        # session shuffle width BEFORE any per-epoch narrowing: the value
        # restore/finalize return to, and the width the maintenance
        # session clone pins (ADVICE r5 #3)
        p._session_shuffle_default = spark.conf.get("spark.sql.shuffle.partitions", "200")
        return p

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "MedallionPipeline":
        p = cls(spark, root)
        p.bronze = LakeTable.load(spark, p._p("bronze_transcripts"))
        p.silver = LakeTable.load(spark, p._p("silver_transcripts"))
        p.n_buckets = int(p.bronze.properties()["n_buckets"])
        p.bronze_mode = p.bronze.properties().get("apply_mode", "cow")
        p.layer_mode = p.silver.properties().get("layer_mode", "cow")
        if p.layer_mode not in LAYER_MODES:
            raise ValueError(
                f"lake at {root!r} uses layer_mode {p.layer_mode!r}, which is no "
                f"longer supported (supported: {'|'.join(LAYER_MODES)})"
            )
        p.with_gold = LakeTable.exists(p._p("gold_conversation_summary"))
        p.summary = (
            LakeTable.load(spark, p._p("gold_conversation_summary")) if p.with_gold else None
        )
        p.with_daily = LakeTable.exists(p._p("gold_daily_rollup"))
        p.daily = LakeTable.load(spark, p._p("gold_daily_rollup")) if p.with_daily else None
        if p.with_daily:
            if LakeTable.exists(p._p("gold_conv_dates")):
                p.conv_dates = LakeTable.load(spark, p._p("gold_conv_dates"))
            else:
                # lake predates the index: create it and force a full
                # derived rebuild so it starts consistent with silver
                p.conv_dates = gold_plan.create_conv_dates_table(
                    spark, p._p("gold_conv_dates")
                )
                if p.silver.last_epoch("silver_refresh") >= 0:
                    p._derived_behind = True
        if LakeTable.exists(p._p("silver_conv_master")):
            p.conv_master = LakeTable.load(spark, p._p("silver_conv_master"))
        p.lineage = LakeTable.load(spark, p._p("_lineage"))
        p.metrics = LakeTable.load(spark, p._p("_metrics"))
        p._session_shuffle_default = spark.conf.get("spark.sql.shuffle.partitions", "200")
        silver_mark = p.silver.last_epoch("silver_refresh")
        for table, source in ((p.summary, "gold_summary"), (p.daily, "gold_daily")):
            if table is not None and table.last_epoch(source) < silver_mark:
                p._derived_behind = True
        return p

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    # ------------------------------------------------------------------
    def apply_meta_epoch(self, meta_batch: DataFrame, epoch: int) -> bool:
        """SCD2 relay for the conversation-metadata change feed (the
        reference's vessel-metadata path, ``bronze/cdc_ingestion.py:71-98``
        -> M1/M3 MERGEs). Exactly-once via the table's own epoch
        watermark; shares the LSN space with the transcript feed."""
        if self.conv_master is None:
            raise RuntimeError("pipeline has no conv_master table")
        return scd2_op.apply_scd2(self.conv_master, meta_batch, epoch=epoch)

    def enriched_summary_view(self) -> DataFrame:
        """Gold summary joined to the current conversation metadata —
        the reference's current-records enrichment view (J1,
        ``silver/table_setup.py:327-343``). Dimension side is broadcast."""
        if self.summary is None or self.conv_master is None:
            raise RuntimeError("needs gold summary + conv_master")
        current = scd2_op.current_view(self.conv_master).select(
            "conv_id", "title", "model", "channel", "owner"
        )
        return self.read_summary().join(F.broadcast(current), "conv_id", "left")

    # -- resolved state views (mode-aware: CoW base scan or MoR resolve) --
    def read_silver(self) -> DataFrame:
        return silver_plan.read_silver(self.silver)

    def read_summary(self) -> DataFrame:
        if self.summary is None:
            raise RuntimeError("pipeline has no gold summary table")
        return gold_plan.read_summary(self.summary)

    def read_daily(self) -> DataFrame:
        if self.daily is None:
            raise RuntimeError("pipeline has no daily rollup table")
        return gold_plan.read_daily(self.daily)

    # ------------------------------------------------------------------
    # The relay's plans are fixed shapes (explicit bucket partitioning,
    # explicit broadcasts, shuffle partitions pinned to the core count),
    # so AQE's runtime re-planning only adds per-stage job scheduling on
    # the driver — measured ~5% slower, and the serial driver fraction is
    # exactly what caps N->4N scaling efficiency. Disabled inside the
    # relay only; analytic sessions keep it on.
    disable_aqe_in_relay: bool = True
    # Size the relay's shuffles to the BATCH, not the session default: a
    # 3k-row sparse epoch through cluster-wide shuffle width is pure
    # task-scheduling overhead (measured 2x wall at 64 partitions vs 8
    # on local[32] — the dominant term of the per-epoch floor). Width
    # only ever SHRINKS from the session default, keyed off the affected
    # conversation count, with a floor of defaultParallelism/4; dense
    # epochs keep the full width. Restored after every epoch.
    adaptive_shuffle: bool = True
    # affected conversations per shuffle partition the width heuristic
    # targets (rows-per-conv is workload-dependent; this conservative
    # grain keeps even fat conversations inside task memory)
    shuffle_keys_per_partition: int = 320

    def apply_epoch(self, batch: DataFrame, epoch: int) -> EpochMetrics:
        """The relay body: one change batch through all layers."""
        if self.disable_aqe_in_relay:
            prior = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                return self._apply_epoch_inner(batch, epoch)
            finally:
                self.spark.conf.set("spark.sql.adaptive.enabled", prior)
        return self._apply_epoch_inner(batch, epoch)

    def _apply_epoch_inner(self, batch: DataFrame, epoch: int) -> EpochMetrics:
        t0 = time.monotonic()

        def _bronze() -> bronze_plan.ApplyResult:
            r = bronze_plan.apply_transcript_batch(self.bronze, batch, epoch=epoch)
            if self.bronze_mode == "mor" and r.applied and self._compaction_due(
                self.bronze, epoch
            ):
                from maritime_activity_reports_cdc_spark.operators.apply import compact

                self._submit_maintenance(
                    compact, self.bronze, summary={"epoch": epoch}
                )
            return r

        # Affected-set for downstream incremental refresh, computed ONCE
        # (one combined aggregate) and shared by every layer. For deletes
        # the row image is null, but conv_id is part of the key so it is
        # always present — deletes propagate to silver/gold (G7 fix).
        # (Derived from the BATCH, so it does not depend on the bronze
        # commit — which is what lets the turn path below overlap the
        # bronze apply with the silver refresh.)
        affected = silver_plan.compute_affected(batch, self.n_buckets)
        affected.dense = self._dense_batch(affected)
        self._set_epoch_shuffle_width(affected)
        # The silver refresh (turn OR per-conversation) can derive its
        # inputs from the PRE-apply bronze snapshot overlaid with the
        # batch winners (associative max-by dedup), so bronze and silver
        # commit concurrently on two driver threads — their epoch guards
        # keep every crash interleaving resumable (bronze-behind-silver
        # resumes by re-applying bronze and skipping silver).
        overlap = bool(self.overlap_layers and affected.buckets)
        res: bronze_plan.ApplyResult | None = None
        if not overlap:
            res = _bronze()
        t1 = time.monotonic()
        dates = None
        if self.daily is not None:
            # Dates carried by the batch itself (inserts and ts
            # destinations). The dates the affected conversations had rows
            # on BEFORE the batch (deletes, ts-moving updates) come from
            # the conv×date index at flush time.
            dates = (
                batch.where(F.col("ts").isNotNull())
                .select(F.to_date("ts").alias("business_date"))
                .distinct()
            )
        # 'auto' picks the refresh plan per epoch from the density
        # estimate the dense fast path already computes: a SPARSE
        # batch (most conversations untouched) takes the turn-level
        # O(batch) delta path; a dense one takes the whole-bucket
        # rewrite, whose replace also folds outstanding turn deltas
        # (fresh rows come from bronze — the ground truth — and
        # dense means no survivors, so clearing deltas is safe).
        use_turn = self.layer_mode == "turn" or (
            self.layer_mode == "auto" and not affected.dense
        )
        if use_turn:
            # turn-level incremental refresh: O(batch) fat work per
            # epoch (fresh rows from the batch, ≤1 successor per key)
            if overlap:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    fb = pool.submit(_bronze)
                    fs = pool.submit(
                        silver_plan.refresh_silver_turn,
                        self.bronze, self.silver, batch, affected,
                        epoch, "silver_refresh", True,
                    )
                    res = fb.result()
                    fs.result()
            else:
                silver_plan.refresh_silver_turn(
                    self.bronze, self.silver, batch, affected, epoch=epoch
                )
        else:
            # Fresh silver rows for the affected conversations. Under
            # overlap they derive from pre-apply bronze ∪ batch winners,
            # so this refresh runs concurrently with the bronze apply.
            def _silver_conv():
                enriched = None
                if affected.buckets:
                    enriched = silver_plan.build_enriched(
                        self.bronze, affected,
                        mega_conv_chunk=self.mega_conv_chunk,
                        overlay_batch=batch if overlap else None,
                    )
                silver_plan.refresh_silver_for_conversations(
                    self.bronze, self.silver, affected, epoch=epoch,
                    enriched=enriched,
                )

            if overlap:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    fb = pool.submit(_bronze)
                    fs = pool.submit(_silver_conv)
                    res = fb.result()
                    fs.result()
            else:
                _silver_conv()
        t2 = time.monotonic()

        self._pending_derived.append((epoch, affected, dates))
        if len(self._pending_derived) >= max(1, self.derived_every):
            self._submit_flush(epoch)
        t3 = time.monotonic()
        self._maybe_compact_layers(epoch)
        if self.expire_keep_last is not None and not self._pending_derived:
            # expiry DELETES superseded files — an in-flight flush or
            # compaction has eagerly-resolved file lists pinned, so
            # drain both first. Runs BEFORE dispatching THIS epoch's
            # queued maintenance: draining here only waits on the
            # PREVIOUS epoch's task (usually long done), so expiry no
            # longer swallows the ingest overlap async_maintenance
            # buys (the queued compactions read their inputs at
            # dispatch time, after the deletes — safe).
            self._wait_flush()
            self._wait_maintenance()
            for table in (self.bronze, self.silver, self.summary, self.daily,
                          self.conv_dates,
                          self.conv_master, self.lineage, self.metrics):
                if table is not None:
                    table.expire_snapshots(keep_last=self.expire_keep_last)
        self._dispatch_maintenance()

        if res.applied and res.bucket_stats:
            self._pending_lineage.extend(
                (epoch, b, res.lsn_min, res.lsn_max, up, dl, res.snapshot_version)
                for (b, up, dl) in res.bucket_stats
            )

        m = EpochMetrics(
            epoch=epoch,
            n_events=res.n_keys,
            n_keys=res.n_keys,
            n_upserts=res.n_insert_update,
            n_deletes=res.n_delete,
            bronze_secs=t1 - t0,
            silver_secs=t2 - t1,
            gold_secs=t3 - t2,
            total_secs=t3 - t0,
        )
        self._pending_metrics.append(
            (
                m.epoch, m.n_events, m.n_keys, m.n_upserts, m.n_deletes,
                m.bronze_secs, m.silver_secs, m.gold_secs, m.total_secs,
                m.events_per_sec,
            )
        )
        return m

    def _set_epoch_shuffle_width(self, affected) -> None:
        """Re-assert ``spark.sql.shuffle.partitions`` for this epoch:
        clamped to the batch's affected-key count for sparse epochs, the
        session default for dense ones (see ``adaptive_shuffle``). Only
        the relay thread writes the conf; the session default is
        restored by finalize()/flush_observability(), not per epoch, so
        the background derived flush runs at the width its epoch's data
        was sized for."""
        if not self.adaptive_shuffle:
            return
        conf = self.spark.conf
        if self._session_shuffle_default is None:
            self._session_shuffle_default = conf.get("spark.sql.shuffle.partitions", "200")
        default = int(self._session_shuffle_default)
        if affected.dense or affected.n_keys <= 0:
            width = default
        else:
            floor = max(self.spark.sparkContext.defaultParallelism // 4, 2)
            width = min(
                default,
                max(floor, -(-affected.n_keys // max(self.shuffle_keys_per_partition, 1))),
            )
        conf.set("spark.sql.shuffle.partitions", str(width))

    def _restore_shuffle_width(self) -> None:
        if self._session_shuffle_default is not None:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", self._session_shuffle_default
            )

    def _dense_batch(self, affected) -> bool:
        """Dense fast path decision: when the batch touches at least half
        the conversations of its buckets (estimated from the summary
        table's recorded file row counts — one row per conversation,
        driver-side, no job), whole-bucket recompute beats key-restricted
        joins: every broadcast build the semi/anti joins would need is
        serial driver time. Dense is always CORRECT (it recomputes a
        superset); this only picks the cheaper plan."""
        if not affected.buckets or affected.n_keys == 0 or self.summary is None:
            return False
        snap = self.summary.snapshot()
        total = 0
        for b in affected.buckets:
            for f in (*snap.files.get(str(b), []), *snap.delta_files.get(str(b), [])):
                st = snap.file_stats.get(f)
                if not st or "__rows" not in st:
                    return False
                total += int(st["__rows"])
        return affected.n_keys * 2 >= total

    def _compaction_due(self, table: LakeTable, epoch: int) -> bool:
        """Compaction trigger: delta FILE load threshold (the real bound
        on the MoR read tax) OR the epoch cadence — whichever fires
        first. The cadence alone let read cost grow unboundedly when
        epochs were configured infrequent-compact (round-1 defect)."""
        from maritime_activity_reports_cdc_spark.operators.mor import delta_load

        n_files, depth, _ = delta_load(table)
        if n_files == 0:
            return False
        if depth >= self.compact_delta_depth:
            return True
        return self.compact_every > 0 and (epoch + 1) % self.compact_every == 0

    def _wait_flush(self) -> None:
        """Drain the in-flight background flush; re-raises its failure
        here (the first point the relay can observe it)."""
        if self._flush_future is not None:
            fut, self._flush_future = self._flush_future, None
            fut.result()

    def _wait_maintenance(self) -> None:
        """Drain the in-flight background compaction; re-raises its
        failure here."""
        if self._maint_future is not None:
            fut, self._maint_future = self._maint_future, None
            fut.result()

    def _submit_maintenance(self, fn, *args, **kwargs) -> None:
        """Run a compaction inline, or queue it for this epoch's single
        background maintenance task when ``async_maintenance`` (queued
        requests dispatch together in ``_dispatch_maintenance`` so two
        layers coming due on the same epoch don't drain each other
        mid-epoch)."""
        if not self.async_maintenance:
            fn(*args, **kwargs)
            return
        self._maint_requests.append((fn, args, kwargs))

    def _dispatch_maintenance(self) -> None:
        """Submit this epoch's queued compactions as ONE background task
        (the previous task is drained first — at most one maintenance
        commit stream races ingest)."""
        if not self._maint_requests:
            return
        requests, self._maint_requests = self._maint_requests, []
        self._wait_maintenance()
        if self._maint_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._maint_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="maintenance"
            )
        if self._maint_session is None:
            self._maint_session = self.spark.newSession()
            # pin production width + AQE for compaction jobs (see the
            # _maint_session field note); the clone never sees the
            # relay's per-epoch narrowing
            width = self._session_shuffle_default or self.spark.conf.get(
                "spark.sql.shuffle.partitions", "200"
            )
            self._maint_session.conf.set("spark.sql.shuffle.partitions", width)
            self._maint_session.conf.set("spark.sql.adaptive.enabled", "true")

        def _rebind(obj):
            # compaction args reference LakeTables bound to the relay's
            # session; rebind them to the clone so their read/write jobs
            # plan under the pinned conf
            if isinstance(obj, LakeTable):
                return LakeTable(self._maint_session, obj.path)
            return obj

        def _run_all():
            for fn, args, kwargs in requests:
                fn(*[_rebind(a) for a in args], **kwargs)

        self._maint_future = self._maint_pool.submit(_run_all)

    def _submit_flush(self, epoch: int) -> None:
        """Dispatch the derived flush: background thread when
        ``async_derived`` (overlapping it with the next epoch), inline
        otherwise. The pending list is captured HERE, on the relay
        thread, so the next epoch's append never races the worker; the
        previous flush is always drained first (one in flight, derived
        epoch stamps stay monotonic)."""
        pend, self._pending_derived = self._pending_derived, []
        if not pend:
            return
        self._wait_flush()
        if not self.async_derived:
            self._flush_derived(epoch, pend)
            return
        if self._flush_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._flush_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="derived-flush"
            )
        self._flush_future = self._flush_pool.submit(self._flush_derived, epoch, pend)

    def _flush_derived(self, epoch: int, pend: list | None = None) -> None:
        """Run the gold summary + daily refreshes over everything pending.
        Epoch-stamped with the NEWEST covered epoch, so a crash between
        flush and checkpoint replays idempotently."""
        if pend is None:
            pend, self._pending_derived = self._pending_derived, []
        if not pend:
            return
        try:
            if self._derived_behind:
                # Resume mid-cadence: the skipped epochs' affected sets are
                # gone — one full rebuild restores exactness, then the
                # incremental path resumes.
                if self.summary is not None:
                    gold_plan.refresh_summary_full(self.silver, self.summary, epoch=epoch)
                self._rebuild_daily_full(epoch)
                self._derived_behind = False
                return
            affected = silver_plan.union_affected([a for (_e, a, _d) in pend])
            affected.dense = self._dense_batch(affected)
            dates = None
            if self.daily is not None:
                date_frames = [d for (_e, _a, d) in pend if d is not None]
                if date_frames:
                    dates = date_frames[0]
                    for d in date_frames[1:]:
                        dates = dates.unionByName(d)
                    dates = dates.distinct()

            shared_slice = None
            if (
                self.summary is not None
                and self.daily is not None
                and affected.buckets
                # Cache ONLY when the slice is a real MoR resolve over a
                # key-restricted set (non-dense turn/auto): there the
                # semi-join + dedup is worth computing once for both
                # consumers. A DENSE slice is a plain column-pruned base
                # scan — materializing it as a deserialized cache costs
                # more (heap churn + GC at 10^7 rows) than letting each
                # consumer re-read the thin parquet columns (measured
                # ~11 s -> ~6 s on the 10M-row load flush).
                and not affected.dense
                and self.silver.properties().get("layer_mode") in ("turn", "auto")
            ):
                # Both gold consumers need the affected conversations'
                # post-refresh silver rows. Resolve the THIN slice once
                # and cache it (no text columns — tiny), instead of each
                # consumer re-running the scan + MoR resolve.
                shared_slice = silver_plan.read_silver_for_affected(
                    self.silver, affected, columns=gold_plan.SUMMARY_INPUT_COLS
                ).persist()

            def _summary():
                if self.summary is not None:
                    gold_plan.refresh_summary_for_conversations(
                        self.silver, self.summary, affected, epoch=epoch,
                        enriched=shared_slice,
                    )

            def _daily():
                if self.daily is not None:
                    gold_plan.refresh_daily_via_index(
                        self.silver, self.conv_dates, self.daily, affected,
                        dates, epoch=epoch, enriched=shared_slice,
                    )

            try:
                if self.parallel_layers and self.summary is not None and self.daily is not None:
                    # Independent consumers of committed state writing to
                    # DIFFERENT tables — two driver threads overlap their
                    # plan analysis, job scheduling and commit serial
                    # fractions.
                    from concurrent.futures import ThreadPoolExecutor

                    with ThreadPoolExecutor(max_workers=2) as pool:
                        for f in [pool.submit(_summary), pool.submit(_daily)]:
                            f.result()
                else:
                    _summary()
                    _daily()
            finally:
                if shared_slice is not None:
                    shared_slice.unpersist()
            if len(pend) > 1:
                affected.unpersist()
        finally:
            for _e, a, _d in pend:
                a.unpersist()

    def finalize(self) -> None:
        """Flush any pending derived refreshes (end of a bounded replay) —
        after this, gold state equals what per-epoch refresh would have
        produced."""
        self._dispatch_maintenance()
        self._wait_maintenance()
        self._wait_flush()
        if self._pending_derived:
            last_epoch = self._pending_derived[-1][0]
            self._flush_derived(last_epoch)
        elif self._derived_behind:
            # summary and daily are independent tables — a pipeline with
            # with_gold=False but with_daily=True must still catch the
            # daily rollup up (mirrors _flush_derived's behind path).
            # Full rebuilds scan full silver: restore the session
            # shuffle width first.
            self._restore_shuffle_width()
            e = self.silver.last_epoch("silver_refresh")
            if self.summary is not None:
                gold_plan.refresh_summary_full(self.silver, self.summary, epoch=e)
            self._rebuild_daily_full(e)
            self._derived_behind = False
        self._restore_shuffle_width()

    def _rebuild_daily_full(self, epoch: int) -> None:
        """Catch-up daily rebuild: one silver scan into the conv×date
        index, daily folded from the index."""
        if self.daily is None:
            return
        gold_plan.rebuild_conv_dates_full(self.silver, self.conv_dates, epoch=epoch)
        gold_plan.refresh_daily_full_from_index(self.conv_dates, self.daily, epoch=epoch)

    def _maybe_compact_layers(self, epoch: int) -> None:
        if self.layer_mode not in ("turn", "auto"):
            return
        from maritime_activity_reports_cdc_spark.operators.apply import compact

        if self._compaction_due(self.silver, epoch):
            # refresh generations are monotonic -> no out-of-order
            # hazard at this layer; tombstones fold away entirely
            self._submit_maintenance(
                compact,
                self.silver, keys=("conv_id", "turn_idx"), order=("_gen",),
                summary={"epoch": epoch},
                drop_tombstones_below_lsn=epoch + 1,
            )

    def compact_all(self) -> None:
        """Fold every table's outstanding deltas (end-of-replay/cron
        maintenance): restores pure read-optimized state."""
        from maritime_activity_reports_cdc_spark.operators.apply import compact

        self._wait_flush()
        self._wait_maintenance()

        if self.bronze_mode == "mor":
            compact(self.bronze)
        if self.layer_mode in ("turn", "auto"):
            compact(
                self.silver, keys=("conv_id", "turn_idx"), order=("_gen",),
                drop_tombstones_below_lsn=self.silver.last_epoch("silver_refresh") + 1,
            )

    def flush_observability(self) -> None:
        """Write buffered lineage/metrics rows (one append each instead of
        two small Spark jobs per epoch). Observability only — a crash
        before flush loses telemetry rows, never data correctness; the
        epoch key makes re-flush after resume idempotent."""
        from maritime_activity_reports_cdc_spark.sources.lake import EpochAlreadyApplied

        # central restore hook: runs at replay end and per streaming
        # batch, so the session never stays narrowed for other users
        self._restore_shuffle_width()
        if self._pending_lineage:
            try:
                self.lineage.append(
                    self.spark.createDataFrame(self._pending_lineage, LINEAGE_SCHEMA),
                    epoch=("lineage", max(r[0] for r in self._pending_lineage)),
                )
            except EpochAlreadyApplied:
                pass  # resume re-flush — rows already committed
            except Exception:
                # observability must never fail the relay, but a dropped
                # flush should be VISIBLE, not silent
                _log.warning("lineage flush failed; dropping %d buffered rows",
                             len(self._pending_lineage), exc_info=True)
            self._pending_lineage = []
        if self._pending_metrics:
            try:
                self.metrics.append(
                    self.spark.createDataFrame(self._pending_metrics, METRICS_SCHEMA),
                    epoch=("metrics", max(r[0] for r in self._pending_metrics)),
                )
            except EpochAlreadyApplied:
                pass  # resume re-flush — rows already committed
            except Exception:
                _log.warning("metrics flush failed; dropping %d buffered rows",
                             len(self._pending_metrics), exc_info=True)
            self._pending_metrics = []
