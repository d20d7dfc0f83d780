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

from maritime_activity_reports_cdc_spark.config import LAYER_MODES
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
    # Each layer's own wall, timed on the thread that ran it: bronze
    # (the apply; its compaction runs in the background) and silver
    # overlap, so their sum can exceed total_secs. gold_secs is the
    # derived-flush dispatch: the wait for the previous background flush
    # (the flush itself runs behind the next epoch).
    bronze_secs: float
    silver_secs: float
    gold_secs: float
    total_secs: float

    @property
    def events_per_sec(self) -> float:
        return self.n_events / self.total_secs if self.total_secs > 0 else 0.0


@dataclass
class MedallionPipeline:
    spark: SparkSession
    root: str
    n_buckets: int = 16
    with_gold: bool = True
    with_daily: bool = True
    # Bronze is merge-on-read: each epoch appends delta files, and
    # compaction folds them into the base every N epochs (or sooner, see
    # compact_delta_depth).
    compact_every: int = 8
    # Silver refresh plan: 'cow' rewrites the affected buckets per epoch
    # (read-optimized); 'auto' picks per epoch from the batch's key
    # density between that rewrite and the turn path, which appends
    # turn-level key-MoR deltas (O(batch) fat work per epoch). Gold
    # tables are always rewritten per key group.
    layer_mode: str = "cow"
    # Fold deltas into the base once any partition's delta DEPTH (files a
    # single-partition reader must resolve — the read-tax proxy) reaches
    # this bound; fires independently of the epoch cadence.
    compact_delta_depth: int = 8
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
    _flush_future: object = field(init=False, default=None)
    _flush_pool: object = field(init=False, default=None)
    _maint_future: object = field(init=False, default=None)
    _maint_pool: object = field(init=False, default=None)
    # compactions requested during the CURRENT epoch (bronze + silver can
    # both come due on the same epoch); submitted as ONE background task
    # at the end of the epoch so they don't drain each other mid-epoch
    _maint_requests: list = field(init=False, default_factory=list)

    # the knobs create() records in the bronze table's properties (next to
    # n_buckets) and load() restores, so every verb that loads a lake runs
    # the cadence it was set up with
    CADENCE_KEYS = ("compact_every", "compact_delta_depth", "derived_every")

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
               bronze_mode: str = "mor", compact_every: int = 8,
               layer_mode: str = "cow",
               compact_delta_depth: int = 8,
               derived_every: int = 1) -> "MedallionPipeline":
        """``bronze_mode`` is accepted for callers written when bronze had
        a copy-on-write mode; bronze is merge-on-read only, so any value
        but 'mor' raises."""
        if layer_mode not in LAYER_MODES:
            raise ValueError(
                f"layer_mode must be {'|'.join(LAYER_MODES)}, got {layer_mode!r}"
            )
        if bronze_mode != "mor":
            raise ValueError(f"bronze_mode must be 'mor', got {bronze_mode!r}")
        p = cls(spark, root, n_buckets, with_gold, with_daily,
                compact_every=compact_every, layer_mode=layer_mode,
                compact_delta_depth=compact_delta_depth, derived_every=derived_every)
        os.makedirs(root, exist_ok=True)
        p.bronze = bronze_plan.create_transcripts_table(
            spark, p._p("bronze_transcripts"), n_buckets,
            properties={k: getattr(p, k) for k in cls.CADENCE_KEYS},
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
        return p

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "MedallionPipeline":
        p = cls(spark, root)
        p.bronze = LakeTable.load(spark, p._p("bronze_transcripts"))
        p.silver = LakeTable.load(spark, p._p("silver_transcripts"))
        props = p.bronze.properties()
        p.n_buckets = int(props["n_buckets"])
        # a lake created before the cadence was recorded keeps the defaults
        for k in cls.CADENCE_KEYS:
            if k in props:
                setattr(p, k, int(props[k]))
        # a legacy bronze 'apply_mode' property is ignored: a copy-on-write
        # bronze is a merge-on-read table with no deltas
        p.layer_mode = p.silver.properties().get("layer_mode", "cow")
        if p.layer_mode == "turn":
            # The retired forced-turn mode wrote the same key-MoR silver
            # (retained tombstones) that auto writes, and auto's dense
            # whole-bucket rewrite is correct on either: restamp it once,
            # so every reader that dispatches on the property sees 'auto'.
            p.silver.set_properties({"layer_mode": "auto"})
            p.layer_mode = "auto"
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
        ``silver/table_setup.py:327-343``). Dimension side is broadcast.
        Drains the background flush first (through ``read_summary``)."""
        if self.summary is None or self.conv_master is None:
            raise RuntimeError("needs gold summary + conv_master")
        current = scd2_op.current_view(self.conv_master).select(
            "conv_id", "title", "model", "channel", "owner"
        )
        return self.read_summary().join(F.broadcast(current), "conv_id", "left")

    # -- resolved state views. The gold reads drain the background flush
    # first, so with derived_every=1 they see the last applied epoch;
    # reading a gold LakeTable directly needs finalize() for that. --
    def read_silver(self) -> DataFrame:
        return silver_plan.read_silver(self.silver)

    def read_summary(self) -> DataFrame:
        if self.summary is None:
            raise RuntimeError("pipeline has no gold summary table")
        self._wait_flush()
        return gold_plan.read_summary(self.summary)

    def read_daily(self) -> DataFrame:
        if self.daily is None:
            raise RuntimeError("pipeline has no daily rollup table")
        self._wait_flush()
        return gold_plan.read_daily(self.daily)

    # ------------------------------------------------------------------
    def apply_epoch(self, batch: DataFrame, epoch: int) -> EpochMetrics:
        """The relay body: one change batch through all layers. Every
        plan it starts, here or on a background thread, runs under the
        session's SQLConf as ``session.get_spark`` built it; the relay
        never writes SQLConf."""
        t0 = time.monotonic()
        # per-layer walls, each timed on the thread that runs the layer
        walls = {"bronze": 0.0, "silver": 0.0}

        def _timed(layer: str, fn):
            t = time.monotonic()
            try:
                return fn()
            finally:
                walls[layer] = time.monotonic() - t

        def _bronze() -> bronze_plan.ApplyResult:
            r = bronze_plan.apply_transcript_batch(self.bronze, batch, epoch=epoch)
            if r.applied and self._compaction_due(self.bronze, epoch):
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
        # commit — which is what lets the silver refresh below overlap
        # the bronze apply.)
        affected = silver_plan.compute_affected(batch, self.n_buckets)
        affected.dense = self._dense_batch(affected)
        # The silver refresh (turn OR per-conversation) derives its
        # inputs from the PRE-apply bronze snapshot overlaid with the
        # batch winners (associative max-by dedup), so bronze and silver
        # commit concurrently on two driver threads — their epoch guards
        # keep every crash interleaving resumable (bronze-behind-silver
        # resumes by re-applying bronze and skipping silver).
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
        # The turn path does O(batch) fat work per epoch (fresh rows from
        # the batch, ≤1 successor per key); the other recomputes the
        # affected conversations and rewrites their buckets.
        refresh = (
            silver_plan.refresh_silver_turn
            if self.layer_mode == "auto" and not affected.dense
            else silver_plan.refresh_silver_for_conversations
        )

        def _silver() -> None:
            refresh(self.bronze, self.silver, batch, affected, epoch)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(_timed, "bronze", _bronze)
            fs = pool.submit(_timed, "silver", _silver)
            res = fb.result()
            fs.result()
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
            # PREVIOUS epoch's task (usually long done), so expiry does
            # not swallow the compaction's overlap with ingest (the
            # queued compactions read their inputs at dispatch time,
            # after the deletes — safe).
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
            # raw batch rows (redeliveries and superseded updates
            # included); n_keys is what survived the per-key dedup
            n_events=affected.n_rows,
            n_keys=res.n_keys,
            n_upserts=res.n_insert_update,
            n_deletes=res.n_delete,
            bronze_secs=walls["bronze"],
            silver_secs=walls["silver"],
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
        n_files, depth = table.delta_load()
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
        """Queue a compaction for this epoch's single background
        maintenance task (``_dispatch_maintenance``), so that two layers
        coming due on the same epoch don't drain each other mid-epoch.

        Compaction overlaps later epochs' ingest safely because commits
        are optimistically concurrent (``sources/lake.py``): the ingest
        path's delta APPENDS rebase through a racing compaction commit,
        and the compaction's REPLACE validates that nothing touched its
        partitions between read and commit — a mid-flight delta append
        makes it re-read (folding the new delta too) and retry, never
        clobber. Readers are snapshot-isolated: superseded files persist
        until expiry, which drains maintenance first. One task is in
        flight at a time; a failure surfaces at the next drain point
        (the next dispatch, ``finalize`` or ``compact_all``)."""
        self._maint_requests.append((fn, args, kwargs))

    def _dispatch_maintenance(self) -> None:
        """Submit this epoch's queued compactions as ONE background task
        (the previous task is drained first — at most one maintenance
        commit stream races ingest). They run on the relay's own
        ``LakeTable``s, whose snapshot caches are locked, under the same
        session conf as the relay."""
        if not self._maint_requests:
            return
        requests, self._maint_requests = self._maint_requests, []
        self._wait_maintenance()
        if self._maint_pool is None:
            from concurrent.futures import ThreadPoolExecutor

            self._maint_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="maintenance"
            )

        def _run_all():
            for fn, args, kwargs in requests:
                fn(*args, **kwargs)

        self._maint_future = self._maint_pool.submit(_run_all)

    def _submit_flush(self, epoch: int) -> None:
        """Run the derived flush on the ``derived-flush`` thread,
        overlapped with the NEXT epoch's bronze/silver work, as the
        reference runs gold as its own streaming queries on slower
        triggers than silver.

        The overlap is safe: the flush writes only gold tables and the
        next epoch writes only bronze/silver (disjoint commit targets);
        the flush builds its read plans against whatever silver snapshot
        is current when it runs, which is at least as fresh as its
        affected conversations need, and a later flush re-covers them,
        so the final state converges exactly as per-epoch refresh does.

        The pending list is captured HERE, on the relay thread, so the
        next epoch's append never races the worker. The previous flush
        is always drained first: one flush in flight, derived epoch
        stamps stay monotonic. A flush failure surfaces at that drain
        (the next submit, a pipeline-level gold read or ``finalize``);
        the epoch guards and the behind-detection rebuild on load make
        a crash resumable."""
        pend, self._pending_derived = self._pending_derived, []
        if not pend:
            return
        self._wait_flush()
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
                # apply_epoch queues a dates frame with every entry when
                # the pipeline has a daily table
                dates = pend[0][2]
                for _e, _a, d in pend[1:]:
                    dates = dates.unionByName(d)
                dates = dates.distinct()

            shared_slice = None
            if (
                self.summary is not None
                and self.daily is not None
                and affected.buckets
                # Cache ONLY when the slice is a real MoR resolve over a
                # key-restricted set (non-dense, and the affected buckets
                # carry silver delta files): there the semi-join + dedup
                # is worth computing once for both consumers. A DENSE or
                # delta-free slice is a plain column-pruned base scan —
                # materializing it as a deserialized cache costs more
                # (heap churn + GC at 10^7 rows) than letting each
                # consumer re-read the thin parquet columns (measured
                # ~11 s -> ~6 s on the 10M-row load flush).
                and not affected.dense
                and self.silver.has_deltas(affected.buckets)
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
                if self.summary is not None and self.daily is not None:
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
            e = self.silver.last_epoch("silver_refresh")
            if self.summary is not None:
                gold_plan.refresh_summary_full(self.silver, self.summary, epoch=e)
            self._rebuild_daily_full(e)
            self._derived_behind = False

    def _rebuild_daily_full(self, epoch: int) -> None:
        """Catch-up daily rebuild: one silver scan into the conv×date
        index, daily folded from the index."""
        if self.daily is None:
            return
        gold_plan.rebuild_conv_dates_full(self.silver, self.conv_dates, epoch=epoch)
        gold_plan.refresh_daily_full_from_index(self.conv_dates, self.daily, epoch=epoch)

    def _maybe_compact_layers(self, epoch: int) -> None:
        """Queue a silver compaction when its deltas come due (only auto
        silver ever has any; ``_compaction_due`` is False without)."""
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

        compact(self.bronze)
        # a no-op on a silver with no deltas (every cow silver)
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
