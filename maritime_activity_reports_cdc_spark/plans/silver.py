"""Silver layer: validated + enriched transcripts, SCD2 conversation master.

Rebuilds the reference silver layer (``silver/cdf_processor.py`` +
``silver/table_setup.py`` in /root/reference): quality scoring (P6,
``utils/data_quality.py:34-96``), per-entity window enrichment (W1/W2,
``silver/cdf_processor.py:144-178``), SCD2 dimension (M3), with two
structural fixes:

- **G6 (batch-local windows)**: the reference computes lag() windows over
  the microbatch only, missing cross-batch transitions. Here enrichment is
  recomputed over the FULL conversation state for exactly the
  conversations touched by the batch — correct and still incremental
  (cost ∝ affected conversations, not table size).
- **silver is derived, deterministically**: silver rows are a pure
  function of bronze state per conversation, so replay/restart at any
  chunking converges (no order-dependent enrichment).

Scale: affected conversations are identified set-wise (distinct on the
batch — no collect of keys, only bucket ids + a count). Sparse batches
restrict the recompute with a broadcast semi-join; dense batches (most
conversations of the affected buckets touched) skip the key joins
entirely and recompute whole buckets — every broadcast build is serial
driver time, so the dense path trades a bounded superset recompute for
zero broadcasts. The enrichment window partitions by the storage bucket
(conversation-boundary-guarded lags), so the bucket-partitioned write
reuses that one exchange.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.operators.apply import (
    BUCKET_COL,
    GEN_FIELDS,
    bucket_expr,
    stamp_generation,
)
from maritime_activity_reports_cdc_spark.plans import bronze as bronze_plan
from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

VALID_ROLES = ("user", "assistant", "system", "tool")


def silver_table_schema() -> T.StructType:
    base = bronze_plan.transcript_table_schema()
    extra = [
        T.StructField("text_len", T.IntegerType(), True),
        T.StructField("n_tokens", T.IntegerType(), True),
        T.StructField("text_fp", T.LongType(), True),
        T.StructField("gap_secs", T.DoubleType(), True),
        T.StructField("turn_gap", T.IntegerType(), True),
        T.StructField("is_role_transition", T.BooleanType(), True),
        T.StructField("quality_score", T.DoubleType(), True),
        T.StructField("quality_category", T.StringType(), True),
        T.StructField("is_anomalous", T.BooleanType(), True),
    ]
    return T.StructType(list(base.fields) + extra + GEN_FIELDS)


def create_silver_table(
    spark: SparkSession, path: str, n_buckets: int = 16, layer_mode: str = "cow"
) -> LakeTable:
    """``layer_mode``: 'cow' replaces affected buckets per refresh (read-
    optimized); 'auto' picks PER EPOCH from the batch's key density:
    sparse feeds append turn-level key-MoR deltas (O(batch) fat work),
    dense ones take the whole-bucket rewrite — see MedallionPipeline."""
    props = {
        "n_buckets": n_buckets,
        "stats_cols": ["conv_id", "ts"],
        "layer_mode": layer_mode,
    }
    if layer_mode == "auto":
        # turn-level key-MoR: delete tombstone rows live in the deltas;
        # lake-level reads must hide them
        props["retain_tombstones"] = True
    return LakeTable.create(
        spark,
        path,
        schema=silver_table_schema(),
        partition_by=BUCKET_COL,
        properties=props,
    )


def read_silver(
    silver_table: LakeTable, buckets=None, bounds=None, columns: list[str] | None = None
) -> DataFrame:
    """Resolved view of silver state: one winner per (conv_id, turn_idx)
    in refresh-generation order, delete tombstones hidden. Partitions
    with no delta files (every cow silver; auto silver after a dense
    epoch or a compaction) read as the plain base scan.

    ``columns``: thin consumers (aggs that never touch text) should pass
    their column set — MoR resolution carries whole rows through its
    shuffle otherwise (Catalyst cannot prune into the resolve)."""
    from maritime_activity_reports_cdc_spark.operators.apply import read_merged

    return read_merged(
        silver_table, buckets, bounds=bounds,
        keys=("conv_id", "turn_idx"), order=("_gen",), columns=columns,
    )


# ---------------------------------------------------------------------
# Enrichment expressions as SQL strings. These run on every relay
# epoch's hot path: a SQL string parses in ONE py4j round-trip where the
# equivalent Column-object tree costs dozens — per-epoch driver
# plan-construction is SERIAL time that caps N->4N scaling efficiency
# (measured 1.5 s -> 0.45 s per sparse epoch after this thinning).
# D-suffixed literals keep every intermediate a DOUBLE, bit-identical to
# the previous F.lit(float) trees.
# ---------------------------------------------------------------------
_TEXT_LEN_SQL = "CAST(length(text) AS INT) AS text_len"
# regexp_count instead of size(split(..)): same whitespace-token
# semantics, no per-row token-array allocation.
_N_TOKENS_SQL = (
    r"CAST(CASE WHEN text IS NULL OR length(text) = 0 THEN 0"
    r" ELSE regexp_count(trim(text), '\\s+') + 1 END AS INT) AS n_tokens"
)
_TEXT_FP_SQL = "xxhash64(text) AS text_fp"
_SCORE_SQL = (
    "ROUND("
    "  CASE WHEN role IN ('user','assistant','system','tool') THEN 0.25D ELSE 0.0D END"
    " + CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 0.35D ELSE 0.0D END"
    " + CASE WHEN ts IS NOT NULL THEN 0.2D ELSE 0.0D END"
    " + CASE WHEN turn_idx >= 0 THEN 0.1D ELSE 0.0D END"
    " + CASE WHEN role != 'tool' OR tool IS NOT NULL THEN 0.1D ELSE 0.0D END"
    ", 2) AS quality_score"
)
_CATEGORY_SQL = (
    "CASE WHEN quality_score >= 0.9D THEN 'excellent'"
    " WHEN quality_score >= 0.7D THEN 'good'"
    " WHEN quality_score >= 0.5D THEN 'fair'"
    " ELSE 'poor' END AS quality_category"
)
_ANOMALOUS_SQL = (
    "COALESCE(length(text) > 100000 OR turn_idx > 100000"
    " OR ts < TIMESTAMP '2000-01-01', FALSE) AS is_anomalous"
)


def quality_exprs(df: DataFrame) -> DataFrame:
    """Tiered quality scoring — transcript analog of the reference's AIS
    scoring cascade (P6, ``utils/data_quality.py:34-96``) and anomaly
    flags (P7, ``:292-313``), all JVM-side column algebra (SQL-string
    built: two py4j round-trips instead of ~40)."""
    return df.selectExpr("*", _SCORE_SQL).selectExpr(
        "*", _CATEGORY_SQL, _ANOMALOUS_SQL
    )


def enrich_conversations(df: DataFrame) -> DataFrame:
    """Full-conversation window enrichment (W1/W2/W3 analogs):
    inter-turn gap seconds, turn-index gap, role-transition flag —
    ``lag`` over per-conversation order exactly as the reference does per
    imo (``silver/cdf_processor.py:144-178``) but over complete
    conversation state (G6 fix).

    The window partitions by the hash bucket (``BUCKET_COL``, which ``df``
    must carry) instead of conv_id, ordering by (conv_id, turn_idx) with
    conv-boundary guards on every lag. Semantically identical to a
    per-conversation window, but the ONE exchange it induces is on the
    table's own partition key, so the downstream bucket-partitioned write
    reuses it instead of shuffling the fat text rows a second time.
    (Rows-per-window-task is one bucket — sized by n_buckets, the same
    skew bound as the storage layout itself.)"""
    over = f"OVER (PARTITION BY `{BUCKET_COL}` ORDER BY conv_id, turn_idx)"
    same = f"lag(conv_id) {over} = conv_id"
    prev_ts = f"CASE WHEN {same} THEN lag(ts) {over} END"
    prev_idx = f"CASE WHEN {same} THEN lag(turn_idx) {over} END"
    prev_role = f"CASE WHEN {same} THEN lag(role) {over} END"
    # one selectExpr (SQL parses in a single py4j round-trip — hot relay
    # path, see the expression-constants block above); Catalyst merges
    # the repeated window specs into one window operator
    return df.selectExpr(
        "*",
        _TEXT_LEN_SQL,
        _N_TOKENS_SQL,
        _TEXT_FP_SQL,
        f"CAST(ts AS DOUBLE) - CAST(({prev_ts}) AS DOUBLE) AS gap_secs",
        f"CAST(turn_idx - ({prev_idx}) AS INT) AS turn_gap",
        f"CASE WHEN ({prev_role}) IS NULL THEN TRUE"
        f" ELSE role != ({prev_role}) END AS is_role_transition",
    )


@dataclass
class AffectedSet:
    """The per-epoch affected-conversation set, computed ONCE and shared
    by every downstream refresh: a persisted (conv_id, bucket) frame, the
    distinct bucket list, the conv_id [min, max] for file pruning, and
    the key count (drives the dense fast path) — one combined aggregate
    job instead of one per layer."""

    keys: DataFrame  # persisted; columns (conv_id, bucket)
    buckets: list[int]
    bounds: tuple | None
    n_keys: int = 0
    # batch ROW count (free from the same aggregate pass): drives
    # row-volume plan choices (fat-cache vs recompute, shuffle width)
    n_rows: int = 0
    # Dense mode: the batch touches (almost) every conversation of its
    # buckets, so key-restricted semi/anti joins are pointless — whole
    # affected buckets are recomputed with ZERO broadcast builds (the
    # broadcast construction is serial driver time, the exact thing that
    # caps N->4N scaling). Always correct — dense only ever recomputes a
    # superset — so the threshold is a pure performance choice.
    dense: bool = False

    def prune(self) -> dict | None:
        return {"conv_id": self.bounds} if self.bounds else None

    def semi(self, df: DataFrame) -> DataFrame:
        """Restrict to affected conversations (no-op in dense mode)."""
        if self.dense:
            return df
        return df.join(F.broadcast(self.keys.select("conv_id")), "conv_id", "left_semi")

    def anti(self, df: DataFrame) -> DataFrame | None:
        """Survivors (None in dense mode: the fresh set covers the
        buckets entirely, nothing survives by exclusion)."""
        if self.dense:
            return None
        return df.join(F.broadcast(self.keys.select("conv_id")), "conv_id", "left_anti")

    def unpersist(self) -> None:
        self.keys.unpersist()


def compute_affected(batch: DataFrame, n_buckets: int) -> AffectedSet:
    # groupBy instead of distinct: identical shuffle, and the per-conv
    # counts make the batch ROW count free in the same aggregate pass
    keyed = (
        batch.groupBy("conv_id").agg(F.count("*").alias("_n"))
        .withColumn(BUCKET_COL, bucket_expr("conv_id", n_buckets))
        .persist()
    )
    row = keyed.agg(
        F.collect_set(BUCKET_COL), F.min("conv_id"), F.max("conv_id"),
        F.count("*"), F.sum("_n"),
    ).collect()[0]
    buckets = sorted(row[0]) if row[0] else []
    bounds = None if row[1] is None else (row[1], row[2])
    # keys keeps the persisted frame itself (unpersist must hit the
    # cached plan, not a derived select); the extra _n column is inert —
    # every consumer projects conv_id/bucket before joining
    return AffectedSet(
        keyed, buckets, bounds, n_keys=int(row[3]), n_rows=int(row[4] or 0)
    )


def build_enriched(
    bronze_table: LakeTable,
    affected: AffectedSet,
    batch: DataFrame,
) -> DataFrame:
    """Fresh silver rows for exactly the affected conversations, computed
    from FULL bronze state (G6 fix).

    The post-apply state is derived from the PRE-apply snapshot overlaid
    with ``batch``'s winners instead of reading the committed result —
    max-by-(lsn, op_ordinal) dedup is associative, so the overlay equals
    the post-apply resolve, tombstones stay visible through it, and the
    silver refresh does not depend on the bronze COMMIT (the relay
    overlaps them on two driver threads)."""
    # Bronze and silver share the bucket transform, so the bronze scan
    # prunes to the same buckets; conv_id file bounds prune further.
    from maritime_activity_reports_cdc_spark.operators.apply import dedup_latest_bucketed

    n_buckets = int(bronze_table.properties()["n_buckets"])
    # dense mode recomputes EVERY conversation of the buckets — the
    # batch's conv-span bounds must not prune the source scan
    raw = bronze_table.read_partitions(
        affected.buckets,
        bounds=None if affected.dense else affected.prune(),
        deltas="include", tombstones="include",
    )
    batch_side = batch.withColumn(BUCKET_COL, bucket_expr("conv_id", n_buckets))
    # The affected-conversation restriction is applied to the raw
    # side EXPLICITLY, before the dedup: the optimizer can push a
    # left-semi below a hash-agg whose grouping keys cover the join
    # key, but NOT below a window partitioned by a different column
    # — without this, the fused plan below would shuffle the whole
    # pruned slice instead of the affected conversations' rows.
    # Commutes with the dedup (the filter is conversation-granular,
    # dedup is per-(conv, turn) — batch rows are all affected by
    # construction). No-op in dense mode, where the whole bucket
    # really is recomputed.
    raw = affected.semi(raw)
    # ONE bucket-partitioned window pass dedups raw ∪ batch (max-by
    # dedup is associative, so pre-deduping the batch separately —
    # the old plan — only added an extra key-shuffle of the fat
    # rows; guide §2.4). The window's bucket exchange is then
    # REUSED by the enrichment window below AND the partitioned
    # write: the fat rows cross the wire exactly once per refresh
    # (previously three exchanges: batch dedup, union dedup, bucket
    # window).
    # allowMissingColumns: either side may carry columns the other
    # lacks (a batch introducing evolved columns, or table columns
    # an older batch predates) — null-fill both ways so evolved
    # values survive the overlay
    bronze_slice = dedup_latest_bucketed(
        raw.unionByName(batch_side, allowMissingColumns=True)
    ).where(F.col("op").isNull() | (F.col("op") != "D"))
    # Window by the storage bucket so the silver write reuses this one
    # exchange instead of re-shuffling the fat rows.
    return quality_exprs(enrich_conversations(bronze_slice))


def refresh_silver_turn(
    bronze_table: LakeTable,
    silver_table: LakeTable,
    batch: DataFrame,
    affected: AffectedSet,
    epoch: int,
    source: str = "silver_refresh",
) -> bool:
    """TURN-level incremental silver refresh — epoch cost O(batch) in the
    fat-text dimension, even when every conversation is touched.

    The per-conversation recompute (`build_enriched`) re-derives a whole
    conversation's rows when ONE of its turns changes; under dense
    update load that is a near-full-table fat pass per epoch. But the
    only rows whose SILVER value actually changes are:

    - the changed turns themselves — and their text/image comes from the
      batch winners (full-row CDC images), no bronze fat read at all;
    - each changed turn's LIVE SUCCESSOR (the next turn in the new
      state), whose window-derived columns (gap/turn_gap/transition)
      depend on its predecessor — at most one per changed key, fetched
      from current silver.

    Window context (each affected turn's predecessor values) comes from
    one THIN pass over post-apply bronze state (4 columns, text never
    read), derived like ``build_enriched``'s: the pre-apply snapshot
    overlaid with the batch winners, so this refresh, too, runs
    concurrently with the bronze apply.
    Fresh rows + delete tombstones append as one key-MoR delta ordered
    by the refresh epoch; reads resolve via read_merged and compaction
    folds (tombstones dropped — generations are monotonic, so no
    out-of-order hazard exists at this layer).

    Requires full row images on U events (true for this change-log
    model; partial-update feeds need the per-conversation path).
    """
    from maritime_activity_reports_cdc_spark.operators.apply import (
        dedup_latest,
        dedup_latest_bucketed,
    )

    if silver_table.last_epoch(source) >= epoch:
        return False
    if not affected.buckets:
        silver_table.commit_epoch_noop(source, epoch, {"rows": 0})
        return True
    n_buckets = int(silver_table.properties()["n_buckets"])
    # Winner caching is row-volume adaptive. SMALL batches persist the
    # full deduped winners (one dedup, four consumers, cache is pennies).
    # LARGE batches split by width: the THIN winners (keys, order,
    # envelope — no text) feed the narrow consumers (overlay pass,
    # broadcast key set, successor anti-join, tombstones) and persist
    # cheaply, while the FAT images are deduped separately and consumed
    # exactly once by the write union, never cached — persisting
    # deserialized fat rows measured ~2x wall swings on 10^6-event
    # epochs from heap churn (and would be GBs at production sizes).
    small_batch = 0 < affected.n_rows <= 50_000
    if small_batch:
        winners = dedup_latest(batch).persist()
    else:
        thin_w = ["conv_id", "turn_idx", "ts", "role", "op", "lsn",
                  "op_ordinal", "commit_ts"]
        winners = dedup_latest(batch.select(*thin_w)).persist()

    # 1. thin window pass over post-apply bronze state: predecessor
    # values for every live turn of the affected buckets, derived from
    # the pre-apply snapshot overlaid with this batch's winners — max-by-
    # (lsn, op_ordinal) is associative, so dedup(pre-resolved ∪ winners)
    # == the post-apply resolve. Tombstones must stay visible through the
    # overlay (a hidden pre-state delete would let a stale batch update
    # resurrect the key).
    # The window context below only ever feeds turns of AFFECTED
    # conversations (step 2 semi-joins to batch keys, which share the
    # batch's conv_ids by construction), and lag() partitions by
    # conv_id — unaffected conversations contribute nothing to any
    # surviving row. Restricting the thin scan to the affected-conv
    # key set BEFORE the dedup/window turns the per-epoch shuffle from
    # O(bucket slice) into O(affected-conversation rows): at a 10M-row
    # table with 2%-of-conversations epochs that is a ~50x smaller
    # exchange. `semi` is a broadcast left-semi (map-side filter at the
    # scan) and a no-op in dense mode, where the whole bucket really is
    # affected.
    thin_cols = ["conv_id", "turn_idx", "ts", "role", "op", "lsn", "op_ordinal"]
    pre = affected.semi(
        bronze_table.read_partitions(
            affected.buckets, bounds=affected.prune(),
            deltas="include", tombstones="include",
        ).select(*thin_cols)
    )
    # Dedup inside a conv_id-partitioned window (guide §2.4): the lag()
    # pass below partitions by conv_id too, so the one exchange serves
    # both — previously the key-hash dedup exchange was immediately
    # followed by a second conv_id exchange for the window. Per-window-
    # group stays one conversation, exactly the bound the lag window
    # already imposes.
    thin = (
        dedup_latest_bucketed(
            pre.unionByName(winners.select(*thin_cols)), bucket_col="conv_id"
        )
        .where("op IS NULL OR op != 'D'")
    )
    # One selectExpr builds all three lags (hot path: SQL strings keep
    # the per-epoch driver plan-construction serial cost down — see
    # dedup_latest docstring; Catalyst collapses the shared window spec)
    _over = "OVER (PARTITION BY conv_id ORDER BY turn_idx)"
    thin = thin.selectExpr(
        "conv_id", "turn_idx", "ts", "role",
        f"lag(ts) {_over} AS _prev_ts",
        f"lag(turn_idx) {_over} AS _prev_idx",
        f"lag(role) {_over} AS _prev_role",
    )

    # 2. affected turns: a live row is affected iff a batch key falls in
    # [new_prev_idx, turn_idx] — covers the changed turn itself (b ==
    # turn), the successor of an insert that BECAME its predecessor
    # (b == new prev), the successor of an updated predecessor, and the
    # successor of a delete (old prev lies strictly inside the new gap).
    # Each batch key flags at most itself + one live successor.
    bk = winners.select(
        F.col("conv_id").alias("_bc"), F.col("turn_idx").alias("_bt")
    )
    gap_lo = F.coalesce(F.col("_prev_idx"), F.lit(-2147483648))
    affected_turns = thin.join(
        F.broadcast(bk),
        on=[
            F.col("conv_id") == F.col("_bc"),
            F.col("_bt") >= gap_lo,
            F.col("_bt") <= F.col("turn_idx"),
        ],
        how="left_semi",
    ).select("conv_id", "turn_idx", "_prev_ts", "_prev_idx", "_prev_role")
    # reused by the successor anti-join AND the enrichment join: caching
    # the O(batch)-row frame avoids re-running the thin scan + window
    affected_turns = affected_turns.persist()

    # 3. fat row images: changed turns from the batch itself (from the
    # cached winners on small batches, re-deduped uncached on large —
    # see above); successors from current silver (their text is
    # unchanged by definition). On large batches the fat dedup runs
    # inside the BUCKET-partitioned window (guide §2.4), so the delta
    # append below reuses that one exchange instead of re-shuffling the
    # fat rows a second time for the partitioned write.
    image_cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts",
                  "op", "lsn", "op_ordinal", "commit_ts"]
    _bk_sql = f"CAST(pmod(xxhash64(conv_id), {int(n_buckets)}) AS INT) AS {BUCKET_COL}"
    if small_batch:
        upserts = winners.where("op != 'D'").selectExpr(*image_cols, _bk_sql)
    else:
        fat_winners = dedup_latest_bucketed(
            batch.withColumn(BUCKET_COL, bucket_expr("conv_id", n_buckets))
        )
        upserts = fat_winners.where("op != 'D'").select(*image_cols, BUCKET_COL)
    succ_keys = affected_turns.select("conv_id", "turn_idx").join(
        winners.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    )
    # Successor fetch with the semi-join pushed BELOW the MoR resolve:
    # filtering base and delta rows to the (small) successor key set
    # BEFORE dedup means the resolve shuffles O(successors) rows instead
    # of re-resolving the whole silver slice with its text payload. One
    # fused base∪delta read: bounds pruning keeps every file whose range
    # intersects the affected conversations — successors are turns OF
    # affected conversations, so no needed base or delta file is pruned.
    # The resolve is bucket-windowed for the same exchange-sharing
    # reason as the upsert side (successor rows stay bucket-clustered
    # into the write).
    skeys = ["conv_id", "turn_idx"]
    s_all = silver_table.read_partitions(
        affected.buckets, bounds=affected.prune(), deltas="include",
        tombstones="include",
    ).join(F.broadcast(succ_keys), skeys, "left_semi")
    successors = (
        dedup_latest_bucketed(s_all, ("conv_id", "turn_idx"), ("_gen",))
        .where("op IS NULL OR op != 'D'")
        .select(*image_cols, BUCKET_COL)
    )
    fat = upserts.unionByName(successors)

    # 4. enrichment: window columns from the thin pass, per-row text
    # metrics recomputed, quality cascade on top. The whole cascade is
    # TWO selectExpr calls (SQL strings parse in one py4j round-trip
    # each) — expression-by-expression construction here measured ~0.4 s
    # of serial driver time per epoch. Every expression is the exact SQL
    # form of enrich_conversations + quality_exprs (D-suffixed double
    # literals keep the arithmetic types identical).
    # affected_turns is BROADCAST explicitly: it is O(epoch keys) — the
    # same scale class as the bk broadcast above — and without the hint
    # the static planner (AQE is off engine-wide, session.get_spark)
    # falls back to a sort-merge join that re-shuffles the fat rows by
    # key.
    rows = fat.join(F.broadcast(affected_turns), ["conv_id", "turn_idx"], "inner")
    enriched = rows.selectExpr(
        *image_cols,
        f"`{BUCKET_COL}`",
        _TEXT_LEN_SQL,
        _N_TOKENS_SQL,
        _TEXT_FP_SQL,
        "CAST(ts AS DOUBLE) - CAST(_prev_ts AS DOUBLE) AS gap_secs",
        "CAST(turn_idx - _prev_idx AS INT) AS turn_gap",
        "CASE WHEN _prev_role IS NULL THEN TRUE"
        " ELSE role != _prev_role END AS is_role_transition",
        _SCORE_SQL,
        _ANOMALOUS_SQL,
    ).selectExpr(
        "*",
        _CATEGORY_SQL,
    )
    tombs = winners.where("op = 'D'").selectExpr(
        "conv_id", "turn_idx", "op", "lsn", "op_ordinal", "commit_ts",
        f"CAST(pmod(xxhash64(conv_id), {int(n_buckets)}) AS INT) AS {BUCKET_COL}",
    )

    schema = silver_table.schema()
    cols = [f.name for f in schema.fields]

    def _align(df: DataFrame) -> DataFrame:
        present = set(df.columns)
        return df.selectExpr(
            *[
                (
                    f"CAST(`{c}` AS {schema[c].dataType.simpleString()}) AS `{c}`"
                    if c in present
                    else f"CAST(NULL AS {schema[c].dataType.simpleString()}) AS `{c}`"
                )
                for c in cols
            ]
        )

    if not small_batch:
        # big-batch fat rows are already bucket-clustered (fused dedup +
        # broadcast join preserve the exchange); cluster the (tiny) D
        # tombstone side too so the union stays partition-pure and the
        # write skips its defensive repartition of the fat rows. Small
        # batches keep the writer's repartition: their fat side is
        # key-partitioned off the cached winners, and a narrow epoch's
        # write is cheap anyway.
        tombs = tombs.repartition(F.col(BUCKET_COL))
    delta = stamp_generation(
        _align(enriched).unionByName(_align(tombs)), epoch
    ).select(*cols)
    try:
        silver_table.append_deltas(
            delta, summary={"source": source}, epoch=(source, epoch),
            pre_partitioned=not small_batch,
        )
    finally:
        winners.unpersist()
        affected_turns.unpersist()
    return True


def read_silver_for_affected(
    silver_table: LakeTable, affected: AffectedSet, columns: list[str]
) -> DataFrame:
    """Resolved silver rows of exactly the affected conversations, with
    the key restriction pushed BELOW the MoR resolve: base and delta
    rows are semi-joined to the affected keys BEFORE the dedup, so the
    resolve shuffles O(affected rows) instead of the whole pruned slice.
    Dense mode reads the whole buckets (no key set to push), and buckets
    with no delta files (every cow silver) need no resolve at all."""
    from maritime_activity_reports_cdc_spark.operators.apply import dedup_latest

    if affected.dense or not silver_table.has_deltas(affected.buckets):
        return affected.semi(
            read_silver(silver_table, affected.buckets,
                        bounds=None if affected.dense else affected.prune(),
                        columns=columns)
        )
    cols = list(dict.fromkeys(["conv_id", "turn_idx", "op", "_gen", *columns]))
    base = silver_table.read_partitions(
        affected.buckets, bounds=affected.prune(), deltas="exclude",
        tombstones="include",
    ).select(*cols)
    delta = silver_table.read_partitions(
        affected.buckets, deltas="only", tombstones="include"
    ).select(*cols)
    key_set = F.broadcast(affected.keys.select("conv_id"))
    resolved = dedup_latest(
        base.join(key_set, "conv_id", "left_semi")
        .unionByName(delta.join(key_set, "conv_id", "left_semi")),
        ("conv_id", "turn_idx"), ("_gen",),
    )
    return resolved.where(F.col("op").isNull() | (F.col("op") != "D"))


def union_affected(sets: list[AffectedSet]) -> AffectedSet:
    """Combine per-epoch affected sets for a multi-epoch derived refresh
    (pipeline derived_every cadence). Single-element unions return the
    set itself (no extra persist)."""
    sets = [s for s in sets if s.buckets] or sets[:1]
    if len(sets) == 1:
        return sets[0]
    keys = sets[0].keys.select("conv_id", BUCKET_COL)
    for s in sets[1:]:
        keys = keys.unionByName(s.keys.select("conv_id", BUCKET_COL))
    keys = keys.distinct().persist()
    buckets = sorted({b for s in sets for b in s.buckets})
    bounds_list = [s.bounds for s in sets if s.bounds]
    bounds = (
        (min(b[0] for b in bounds_list), max(b[1] for b in bounds_list))
        if bounds_list
        else None
    )
    # n_keys as the sum is an upper bound (overlap across epochs) — it
    # only ever over-triggers the dense path, which stays correct.
    return AffectedSet(
        keys, buckets, bounds,
        n_keys=sum(s.n_keys for s in sets),
        n_rows=sum(s.n_rows for s in sets),
    )


def refresh_silver_for_conversations(
    bronze_table: LakeTable,
    silver_table: LakeTable,
    batch: DataFrame,
    affected: AffectedSet,
    epoch: int,
    source: str = "silver_refresh",
) -> bool:
    """Swap in the affected conversations' recomputed silver rows
    (``build_enriched`` over pre-apply bronze overlaid with ``batch``):
    survivors of the affected buckets are rewritten alongside the fresh
    rows (read-optimized, write cost ∝ affected buckets). Returns False
    on an idempotent epoch skip."""
    if silver_table.last_epoch(source) >= epoch:
        return False
    if not affected.buckets:
        silver_table.commit_epoch_noop(source, epoch, {"rows": 0})
        return True

    enriched = stamp_generation(build_enriched(bronze_table, affected, batch), epoch)
    target_cols = [f.name for f in silver_table.schema().fields]
    aligned = enriched.select(*[
        F.col(c) if c in enriched.columns else F.lit(None).alias(c) for c in target_cols
    ])
    # Survivors are RESOLVED state (the replace clears the replaced
    # buckets' delta files): auto silver can carry turn-level deltas from
    # earlier sparse epochs. An auto pipeline routes only DENSE batches
    # here (survivors -> None), and cow silver has no deltas, so this is
    # the plain base scan on every relay path.
    base = read_silver(silver_table, affected.buckets)
    survivors = affected.anti(base)
    merged = aligned if survivors is None else survivors.unionByName(aligned)
    # merged is already clustered by bucket: the fresh side came through
    # the bucket-keyed window exchange, the survivor side through bucket-
    # pure file scans — the write skips its defensive repartition, saving
    # a second full shuffle of the fat text rows per refresh.
    silver_table.replace_partitions(
        merged,
        summary={"source": source},
        epoch=(source, epoch),
        partition_values=affected.buckets,
        pre_partitioned=True,
    )
    return True
