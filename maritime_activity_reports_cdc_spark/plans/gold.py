"""Gold layer: incremental business aggregates over silver state.

Rebuilds the reference gold layer (``gold/cdf_processor.py`` +
``gold/table_setup.py`` in /root/reference) — per-entity summaries (M6,
``:248-328``), grouped performance aggs (M7, ``:346-427``), compliance-
style multi-measure aggs (M8, ``:429-525``), daily rollups (A4,
``gold/table_setup.py:475-491``) — with the reference's central
scalability defect fixed:

- **G2**: the reference collect()s changed keys to the driver and runs one
  f-string MERGE per key (``gold/cdf_processor.py:239-246``). Here the
  affected-key set stays distributed: one semi-join restricts the agg
  source, one groupBy computes all affected aggregates, one
  partition-scoped replace commits them. Apply cost ∝ affected keys.

Summary measure vocabulary mirrors M6's shape (counts by category,
min/max timestamps, averages, conditional counts) translated to the
transcript domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.operators import mor
from maritime_activity_reports_cdc_spark.operators.apply import BUCKET_COL, bucket_expr
from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

# the summary agg's input column set — passed into MoR-resolved silver
# reads so the resolve shuffle never carries text
SUMMARY_INPUT_COLS = [
    "conv_id", "role", "tool", "ts", "gap_secs", "n_tokens",
    "quality_score", "is_anomalous",
]

SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_user", T.LongType(), True),
        T.StructField("n_assistant", T.LongType(), True),
        T.StructField("n_system", T.LongType(), True),
        T.StructField("n_tool_calls", T.LongType(), True),
        T.StructField("n_distinct_tools", T.LongType(), True),
        T.StructField("first_ts", T.TimestampType(), True),
        T.StructField("last_ts", T.TimestampType(), True),
        T.StructField("duration_secs", T.DoubleType(), True),
        T.StructField("avg_gap_secs", T.DoubleType(), True),
        T.StructField("max_gap_secs", T.DoubleType(), True),
        T.StructField("total_tokens", T.LongType(), True),
        T.StructField("avg_quality", T.DoubleType(), True),
        T.StructField("n_anomalous", T.LongType(), True),
        T.StructField("risk_level", T.StringType(), True),
        T.StructField(BUCKET_COL, T.IntegerType(), False),
    ]
    + mor.GEN_FIELDS
)

DAILY_SCHEMA = T.StructType(
    [
        T.StructField("business_date", T.DateType(), False),
        # partition key: month granularity. One row per DATE is the grain,
        # but a date-partitioned rollup writes O(affected dates) one-row
        # files per refresh (hundreds of tiny partitions + manifest refs
        # + footer stats per flush — measured to dominate gold time on
        # spread-out corpora). Month partitions bound a flush to a
        # handful of files; business_date file stats prune within them.
        T.StructField("business_month", T.StringType(), True),
        T.StructField("n_active_conversations", T.LongType(), True),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_tool_calls", T.LongType(), True),
        T.StructField("total_tokens", T.LongType(), True),
        T.StructField("avg_quality", T.DoubleType(), True),
    ]
    + mor.GEN_FIELDS
)


# Per-(conversation, date) activity index — the decomposed form of the
# daily rollup. Every daily measure is a sum over these rows (the one
# non-decomposable daily agg, countDistinct(conv_id), becomes a row
# count because the index has exactly one row per conv×date), so the
# daily refresh never has to scan silver: date discovery reads this tiny
# table and the recompute aggregates exactly the affected DATE
# partitions. This is what makes daily pruning exact at scale — silver
# is hash-bucketed by conv_id, so neither conv bounds (random ids span
# everything) nor ts file bounds (CoW bucket rewrites give every fresh
# file the full date range) ever prune a silver scan by date.
CONV_DATES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("business_date", T.DateType(), False),
        # month partition key (see DAILY_SCHEMA's business_month note)
        T.StructField("business_month", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_tool_calls", T.LongType(), True),
        T.StructField("total_tokens", T.LongType(), True),
        T.StructField("sum_quality", T.DoubleType(), True),
        T.StructField("n_quality", T.LongType(), True),
    ]
)

CONV_DATES_INPUT_COLS = ["conv_id", "ts", "role", "n_tokens", "quality_score"]


def create_summary_table(spark: SparkSession, path: str, n_buckets: int = 16) -> LakeTable:
    return LakeTable.create(
        spark, path, SUMMARY_SCHEMA, partition_by=BUCKET_COL,
        properties={"n_buckets": n_buckets, "stats_cols": ["conv_id"]},
    )


def create_daily_table(spark: SparkSession, path: str) -> LakeTable:
    # Time-partitioned like the reference's gold scheme
    # (``gold/table_setup.py:94``) but at MONTH granularity — a rollup
    # has one row per day, so day partitions mean one-row files and a
    # flush that touches hundreds of them (see DAILY_SCHEMA). Refresh
    # replaces whole months.
    return LakeTable.create(
        spark, path, DAILY_SCHEMA, partition_by="business_month",
        properties={"stats_cols": ["business_date"]},
    )


def _month(col) -> F.Column:
    return F.date_format(col, "yyyy-MM")


def create_conv_dates_table(spark: SparkSession, path: str) -> LakeTable:
    """The conv×date activity index behind the daily rollup (see
    CONV_DATES_SCHEMA). Month-partitioned so a refresh touches a handful
    of partitions; business_date + conv_id file stats prune within."""
    return LakeTable.create(
        spark, path, CONV_DATES_SCHEMA, partition_by="business_month",
        properties={"stats_cols": ["conv_id", "business_date"]},
    )


def conv_date_activity(silver_rows: DataFrame) -> DataFrame:
    """Decomposable per-(conv, date) sums feeding the daily rollup."""
    return (
        silver_rows.where(F.col("ts").isNotNull())
        .withColumn("business_date", F.to_date("ts"))
        .groupBy("conv_id", "business_date")
        .agg(
            F.count("*").alias("n_turns"),
            F.count(F.when(F.col("role") == "tool", 1)).alias("n_tool_calls"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("quality_score").alias("sum_quality"),
            F.count("quality_score").alias("n_quality"),
        )
        .withColumn("business_month", _month("business_date"))
    )


def _daily_from_index(index_rows: DataFrame) -> DataFrame:
    """Fold index rows into DAILY_SCHEMA measures. n_active is a plain
    row count (one index row per conv×date); avg_quality recomposes from
    (sum, count) so nulls weigh exactly as F.avg would."""
    return index_rows.groupBy("business_date", "business_month").agg(
        F.count("*").alias("n_active_conversations"),
        F.sum("n_turns").cast("long").alias("n_turns"),
        F.sum("n_tool_calls").cast("long").alias("n_tool_calls"),
        F.sum("total_tokens").cast("long").alias("total_tokens"),
        F.round(
            F.sum("sum_quality")
            / F.when(F.sum("n_quality") > 0, F.sum("n_quality")),
            4,
        ).alias("avg_quality"),
    )


def _restrict_to_affected(
    df: DataFrame, affected, n_buckets: int, negate: bool = False
) -> DataFrame:
    """Affected-conversation membership against the DATE-partitioned
    index. Dense mode must NOT fall back to AffectedSet's no-op semi /
    None anti — those assume the frame is already restricted to the
    affected BUCKETS, which date partitions are not; instead dense
    filters on the bucket expression (pure column math, no broadcast
    build — the whole point of the dense path)."""
    if affected.dense:
        member = bucket_expr("conv_id", n_buckets).isin(affected.buckets)
        return df.where(~member if negate else member)
    how = "left_anti" if negate else "left_semi"
    return df.join(F.broadcast(affected.keys.select("conv_id")), "conv_id", how)


def refresh_daily_via_index(
    silver_table: LakeTable,
    index_table: LakeTable,
    daily_table: LakeTable,
    affected,
    batch_dates: DataFrame | None,
    epoch: int,
    enriched: DataFrame | None = None,
    source: str = "gold_daily",
    index_source: str = "gold_conv_dates",
) -> bool:
    """Incremental daily refresh through the conv×date index:

    1. fresh index rows for the affected conversations (from the shared
       ``enriched`` frame when available, else a key-pruned silver slice
       — the same input the summary refresh reads);
    2. affected dates = batch ts dates ∪ the affected convs' CURRENT
       index dates (covers deletes and ts-moving updates — the vacated
       side) — discovered from the index, never from a silver scan;
    3. replace exactly those index date-partitions (survivors = other
       convs' rows, kept via anti-join / dense bucket filter);
    4. rebuild the daily rows for those dates from the index partitions.

    Index and daily commits are epoch-guarded independently: a crash
    between them resumes via the pipeline's behind-detection full
    rebuild, and a re-flush after both is a clean no-op."""
    from maritime_activity_reports_cdc_spark.plans.silver import read_silver

    if daily_table.last_epoch(source) >= epoch:
        return False
    n_buckets = int(silver_table.properties()["n_buckets"])

    if not affected.buckets:
        index_table.commit_epoch_noop(index_source, epoch, {"rows": 0})
        daily_table.commit_epoch_noop(source, epoch, {"rows": 0})
        return True

    # Does the batch's dense coverage span EVERY bucket? Then no index
    # row can survive by exclusion and the vacated-month set is exactly
    # the index's current partition list — both answered driver-side
    # from the snapshot, zero jobs.
    covers_all = affected.dense and len(affected.buckets) >= n_buckets
    if covers_all:
        # vacated months come from the index snapshot (driver-side);
        # the months the batch INTRODUCES are derived from the fresh
        # index rows themselves below (they are computed and cached for
        # the write anyway) — re-scanning the change batches for their
        # ts dates here was a full extra pass over each pending chunk.
        months_set = set(index_table.snapshot().files)
        batch_dates = None
    else:
        vacated = _restrict_to_affected(
            index_table.read().select("conv_id", "business_month"), affected, n_buckets
        ).select(F.col("business_month").alias("_m"))
        src = vacated
        if batch_dates is not None:
            src = src.unionByName(
                batch_dates.select(_month("business_date").alias("_m"))
            )
        # one discovery job per flush (vacated ∪ batch months fused)
        months_set = {r[0] for r in src.distinct().collect()}
    months = sorted(months_set)

    if index_table.last_epoch(index_source) >= epoch:
        # Same-process retry after the index committed but the daily did
        # not: the discovery above ran against the already-replaced index
        # and can miss vacated months (e.g. a delete-only epoch leaves no
        # index row behind). The index commit recorded the exact month
        # set it replaced — replay that set for the daily recompute. (If
        # another commit landed on the index since, the recorded summary
        # is gone and the pipeline's behind-detection full rebuild covers
        # recovery, as before.)
        isnap = index_table.snapshot()
        if isnap.epochs.get(index_source) == epoch and "months" in isnap.summary:
            months = sorted(set(months) | set(isnap.summary["months"]))

    if not months and not covers_all:
        if index_table.last_epoch(index_source) < epoch:
            index_table.commit_epoch_noop(index_source, epoch, {"rows": 0})
        daily_table.commit_epoch_noop(source, epoch, {"rows": 0})
        return True

    cols = [f.name for f in CONV_DATES_SCHEMA.fields]
    merged = None
    if index_table.last_epoch(index_source) < epoch:
        if enriched is None:
            silver_slice = read_silver(
                silver_table, affected.buckets,
                bounds=None if affected.dense else affected.prune(),
                columns=CONV_DATES_INPUT_COLS,
            )
            enriched = affected.semi(silver_slice)
        fresh = conv_date_activity(enriched).select(*cols)
        if covers_all:
            # persist FIRST so the month discovery materializes the
            # cache the write then reads — the agg runs once, not twice
            merged = fresh.persist()
            extra = {
                r[0] for r in merged.select("business_month").distinct().collect()
            } - set(months)
            if extra:
                months = sorted(set(months) | extra)
            if not months:
                merged.unpersist()
                index_table.commit_epoch_noop(index_source, epoch, {"rows": 0})
                daily_table.commit_epoch_noop(source, epoch, {"rows": 0})
                return True
        else:
            if batch_dates is None:
                # without the batch's ts dates the months-covered
                # invariant (fresh months ⊆ vacated ∪ batch months)
                # doesn't hold for fresh inserts — derive the missing
                # months from fresh itself so no fresh row lands outside
                # a replaced partition (survivors depend on the final
                # month set, so this must run before building merged)
                extra = {
                    r[0] for r in fresh.select("business_month").distinct().collect()
                } - set(months)
                if extra:
                    months = sorted(set(months) | extra)
            survivors = _restrict_to_affected(
                index_table.read_partitions(months), affected, n_buckets, negate=True
            )
            # small frame (one row per affected conv×date): persist so
            # the daily rollup folds the SAME rows without re-reading
            # the just-committed partitions (or the silver agg)
            merged = survivors.select(*cols).unionByName(fresh).persist()
        index_table.replace_partitions(
            # months recorded so a same-process retry (crash between the
            # two commits) can replay the exact replaced set — see above
            merged, summary={"source": index_source, "months": months},
            epoch=(index_source, epoch), partition_values=months,
        )
    try:
        # Recompute EVERY date of the affected months from the index
        # (unaffected dates re-derive identical rows); the month
        # partitions bound the scan and the write to a few files.
        index_rows = (
            merged if merged is not None else index_table.read_partitions(months)
        )
        rollup = mor.stamp_generation(_daily_from_index(index_rows), epoch)
        daily_table.replace_partitions(
            rollup, summary={"source": source}, epoch=(source, epoch),
            partition_values=months,
        )
    finally:
        if merged is not None:
            merged.unpersist()
    return True


def refresh_daily_full_from_index(
    index_table: LakeTable,
    daily_table: LakeTable,
    epoch: int,
    source: str = "gold_daily",
) -> bool:
    """Full daily rebuild from a freshly rebuilt index (catch-up path —
    pairs with rebuild_conv_dates_full so silver is scanned once)."""
    if daily_table.last_epoch(source) >= epoch:
        return False
    rollup = mor.stamp_generation(_daily_from_index(index_table.read()), epoch)
    daily_table.overwrite(
        rollup, summary={"source": source, "operation_kind": "full"},
        epoch=(source, epoch),
    )
    return True


def rebuild_conv_dates_full(
    silver_table: LakeTable,
    index_table: LakeTable,
    epoch: int,
    index_source: str = "gold_conv_dates",
) -> bool:
    """Full index rebuild from silver state — the crash catch-up path
    (same role as refresh_summary_full / daily full rebuild)."""
    from maritime_activity_reports_cdc_spark.plans.silver import read_silver

    if index_table.last_epoch(index_source) >= epoch:
        return False
    fresh = conv_date_activity(
        read_silver(silver_table, columns=CONV_DATES_INPUT_COLS)
    )
    cols = [f.name for f in CONV_DATES_SCHEMA.fields]
    index_table.overwrite(
        fresh.select(*cols),
        summary={"source": index_source, "operation_kind": "full"},
        epoch=(index_source, epoch),
    )
    return True


def read_summary(summary_table: LakeTable, buckets=None) -> DataFrame:
    return summary_table.read() if buckets is None else summary_table.read_partitions(buckets)


def read_daily(daily_table: LakeTable) -> DataFrame:
    return daily_table.read()


def conversation_summary(silver_rows: DataFrame) -> DataFrame:
    """All per-conversation measures in ONE groupBy (M6 analog, set-
    oriented). Conditional counts via count(when(...)) — A3/A6 pattern."""
    cnt = lambda cond: F.count(F.when(cond, 1))  # noqa: E731
    agg = silver_rows.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        cnt(F.col("role") == "user").alias("n_user"),
        cnt(F.col("role") == "assistant").alias("n_assistant"),
        cnt(F.col("role") == "system").alias("n_system"),
        cnt(F.col("role") == "tool").alias("n_tool_calls"),
        F.countDistinct("tool").alias("n_distinct_tools"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        (F.max(F.col("ts").cast("double")) - F.min(F.col("ts").cast("double"))).alias("duration_secs"),
        F.avg("gap_secs").alias("avg_gap_secs"),
        F.max("gap_secs").alias("max_gap_secs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        cnt(F.col("is_anomalous")).alias("n_anomalous"),
    )
    # Risk CASE over aggregate counts — A6 shape (gold/cdf_processor.py:
    # 450-513 risk_score CASE).
    risk = (
        F.when(F.col("n_anomalous") > 5, "high")
        .when((F.col("n_anomalous") > 0) | (F.col("avg_quality") < 0.7), "medium")
        .otherwise("low")
    )
    return agg.withColumn("risk_level", risk)


def refresh_summary_for_conversations(
    silver_table: LakeTable,
    summary_table: LakeTable,
    affected,
    epoch: int,
    source: str = "gold_summary",
    enriched: DataFrame | None = None,
) -> bool:
    """Incremental recompute of exactly the affected conversations'
    summaries (agg-then-merge, M6 — minus the per-key driver loop).
    ``affected`` is a ``silver.AffectedSet`` (shared across layers).

    ``enriched`` — the silver refresh's freshly computed rows for the
    affected conversations — IS this refresh's aggregation input; passing
    it (persisted) skips the silver re-read entirely and removes the
    cross-layer commit dependency."""
    if summary_table.last_epoch(source) >= epoch:
        return False
    n_buckets = int(summary_table.properties()["n_buckets"])
    if not affected.buckets:
        summary_table.commit_epoch_noop(source, epoch, {"rows": 0})
        return True
    if enriched is None:
        from maritime_activity_reports_cdc_spark.plans.silver import read_silver

        # dense mode recomputes EVERY conversation of the buckets, so the
        # batch's conv-span bounds must not prune the scan
        silver_slice = read_silver(
            silver_table, affected.buckets,
            bounds=None if affected.dense else affected.prune(),
            columns=SUMMARY_INPUT_COLS,
        )
        enriched = affected.semi(silver_slice)
    fresh = conversation_summary(enriched).withColumn(
        BUCKET_COL, bucket_expr("conv_id", n_buckets)
    )
    fresh = mor.stamp_generation(fresh, epoch)
    target_cols = [f.name for f in summary_table.schema().fields]
    # A conversation whose rows were ALL deleted upstream produces no
    # agg row — its stale summary must go too, which the anti-join +
    # union (or the whole-bucket replace in dense mode) guarantees.
    survivors = affected.anti(summary_table.read_partitions(affected.buckets))
    merged = (
        fresh.select(*target_cols)
        if survivors is None
        else survivors.unionByName(fresh.select(*target_cols))
    )
    summary_table.replace_partitions(
        merged, summary={"source": source}, epoch=(source, epoch),
        partition_values=affected.buckets,
    )
    return True


def refresh_summary_full(
    silver_table: LakeTable,
    summary_table: LakeTable,
    epoch: int,
    source: str = "gold_summary",
) -> bool:
    """Full summary rebuild from complete silver state — the catch-up
    path when a resume finds gold behind silver (the per-epoch affected
    sets of the missed epochs are unknowable after a crash)."""
    from maritime_activity_reports_cdc_spark.plans.silver import read_silver

    if summary_table.last_epoch(source) >= epoch:
        return False
    n_buckets = int(summary_table.properties()["n_buckets"])
    fresh = conversation_summary(
        read_silver(silver_table, columns=SUMMARY_INPUT_COLS)
    ).withColumn(BUCKET_COL, bucket_expr("conv_id", n_buckets))
    fresh = mor.stamp_generation(fresh, epoch)
    target_cols = [f.name for f in summary_table.schema().fields]
    summary_table.overwrite(
        fresh.select(*target_cols), summary={"source": source, "operation_kind": "full"},
        epoch=(source, epoch),
    )
    return True


def top_conversations_view(summary_table: LakeTable, k: int = 10) -> DataFrame:
    """Rank view (W6 analog, ``gold/table_setup.py:466-471``): top-k
    conversations by turns within each risk level."""
    from pyspark.sql import Window

    w = Window.partitionBy("risk_level").orderBy(F.desc("n_turns"), "conv_id")
    return (
        read_summary(summary_table)
        .withColumn("rank_in_risk", F.rank().over(w))
        .where(F.col("rank_in_risk") <= k)
        .orderBy("risk_level", "rank_in_risk")
    )
