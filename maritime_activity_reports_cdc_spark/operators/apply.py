"""The merge-apply primitive: change batch -> copy-on-write table upsert.

Unifies the reference's eight Delta ``MERGE INTO`` statements (SURVEY.md
§2.4, M1-M8; e.g. ``silver/cdf_processor.py:255-275`` in /root/reference)
into one set-oriented DataFrame pipeline, fixing the catalogued defects:

- **G1 (no intra-batch dedup)**: the reference's MERGE fails if one batch
  carries two changes for a key; here every batch is first reduced to one
  winner per key in total ``(lsn, op_ordinal)`` order.
- **G7 (deletes dropped)**: ``D`` winners remove the key from the target.
- **G5 (non-idempotent replay)**: the commit is stamped with an epoch id;
  replaying an already-applied batch is a detected no-op.
- **G2 (driver-side per-key loops)**: apply cost is one dedup + one
  anti-join + one partition-scoped write, whatever the key count.

Scale design (the part that must survive 100 TB / 10^10 events):

- *Dedup* uses ``groupBy(keys).agg(max_by(row, order))`` — a hash
  aggregate with map-side partial combine, so a hot conversation's
  duplicate changes collapse inside each task BEFORE the shuffle, making
  the reduce side skew-proof by construction. (A salted two-phase window
  variant is kept for comparison; the agg plan beats it because a window
  needs a full sort-shuffle of every change row.)
- *Apply* touches only the hash-bucket partitions present in the batch
  (`read_partitions` -> manifest-level pruning), so I/O scales with batch
  footprint, not table size — the same shape as Iceberg copy-on-write
  MERGE. The anti-join's build side is the deduped batch, which AQE
  converts to a broadcast join at runtime when small.
- The only driver-side materialization is the distinct *bucket id* list
  (bounded by ``n_buckets``, never by keys or rows).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.sources.lake import EpochAlreadyApplied, LakeTable

BUCKET_COL = "bucket"
ENVELOPE_COLS = ("op", "lsn", "op_ordinal", "commit_ts")
DEFAULT_KEYS = ("conv_id", "turn_idx")
DEFAULT_ORDER = ("lsn", "op_ordinal")


def bucket_expr(key_col: str | F.Column, n_buckets: int) -> F.Column:
    """Deterministic hash bucket — the table partition transform
    (Iceberg ``bucket(n, conv_id)`` analog). Doubles as the salt function
    family (reference used ``F.hash`` for memo keys,
    ``silver/streaming_processor.py:156-157``)."""
    col = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def dedup_latest(
    changes: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    order: tuple[str, ...] = DEFAULT_ORDER,
    strategy: str = "agg",
    salt_buckets: int = 32,
) -> DataFrame:
    """One winner per key in total change order (max-LSN dedup).

    ``strategy='agg'`` (default): partial-aggregating ``max_by`` — the
    scale-safe plan. ``strategy='window'``: the two-phase salted
    ``row_number`` formulation from the design sketch (kept for the bench
    comparison and as documentation of the skew fix for window plans).

    At-least-once duplicates (same ``(lsn, op_ordinal)`` redelivered) are
    absorbed here: identical order keys tie-break to a single identical
    row either way.

    This runs on every epoch's hot path: columns are passed as STRINGS
    (one py4j round-trip per call, not per column) — per-epoch driver
    plan-construction time is a serial cost that caps scaling efficiency
    (measured ~1.5 s/epoch before the round-5 thinning).
    """
    if strategy == "agg":
        cols = ", ".join(f"`{c}`" for c in changes.columns)
        ords = ", ".join(f"`{o}`" for o in order)
        won = changes.groupBy(*keys).agg(
            F.expr(f"max_by(struct({cols}), struct({ords}))").alias("_winner")
        )
        return won.select("_winner.*")
    order_cols = [F.col(o) for o in order]
    if strategy == "window":
        # Phase 1: reduce within (key, salt) slices — bounds any single
        # window partition even for a mega-hot conversation.
        salt = F.pmod(F.xxhash64(*order_cols), F.lit(salt_buckets)).alias("_salt")
        salted = changes.withColumn("_salt", salt)
        w1 = Window.partitionBy(*keys, "_salt").orderBy(*[c.desc() for c in order_cols])
        phase1 = (
            salted.withColumn("_rn", F.row_number().over(w1))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_salt")
        )
        # Phase 2: winner-of-winners (at most `salt_buckets` rows per key).
        w2 = Window.partitionBy(*keys).orderBy(*[c.desc() for c in order_cols])
        return (
            phase1.withColumn("_rn", F.row_number().over(w2))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    raise ValueError(f"unknown dedup strategy {strategy!r}")


def dedup_latest_bucketed(
    changes: DataFrame,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    order: tuple[str, ...] = DEFAULT_ORDER,
    bucket_col: str = BUCKET_COL,
) -> DataFrame:
    """One winner per key in total change order, computed inside a single
    BUCKET-partitioned window pass — the exchange-sharing form of
    ``dedup_latest`` (guide §2.4: two operations keyed the same way can
    share one exchange).

    ``dedup_latest``'s hash-agg shuffles by the KEY; a downstream
    bucket-partitioned write (or bucket-keyed window) then shuffles the
    same fat rows a SECOND time. Here the one exchange is on the table's
    own partition column: rows sort within each bucket by (keys, order)
    and the winner is the last row of each key group, so the write (and
    silver's bucket-keyed enrichment window) reuse the exchange — fat
    rows cross the wire once per epoch instead of twice.

    Semantics match ``dedup_latest``: the max-(order) row per key wins;
    ties on the order columns are exact duplicates in this change-log
    model (at-least-once redelivery), so either copy is the same winner.
    Skew bound: rows-per-window-task is one bucket — identical to the
    storage layout's own bound (and to silver's enrichment window). For
    feeds where a single key can carry unbounded duplicate changes,
    ``dedup_latest``'s map-side-combining agg remains the safer shape.

    Hot path: SQL-string expressions (one py4j round-trip, see
    ``dedup_latest``); requires ``bucket_col`` to already be present.
    """
    ords = ", ".join(f"`{c}`" for c in (*keys, *order))
    key_struct = "struct(" + ", ".join(f"`{k}`" for k in keys) + ")"
    over = f"OVER (PARTITION BY `{bucket_col}` ORDER BY {ords})"
    marked = changes.selectExpr(
        "*",
        f"(lead({key_struct}) {over}) IS DISTINCT FROM {key_struct} AS _is_winner",
    )
    return marked.where("_is_winner").drop("_is_winner")


@dataclass
class ApplyResult:
    epoch: int
    applied: bool  # False => epoch was already committed (idempotent skip)
    snapshot_version: int | None
    lsn_min: int | None
    lsn_max: int | None
    n_keys: int
    n_insert_update: int
    n_delete: int
    affected_buckets: list[int]
    # per-bucket lineage rows: (bucket, n_upserts, n_deletes)
    bucket_stats: list[tuple[int, int, int]]


def read_merged(
    table: LakeTable,
    buckets: list | None = None,
    bounds: dict | None = None,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    order: tuple[str, ...] = DEFAULT_ORDER,
    columns: list[str] | None = None,
) -> DataFrame:
    """Merge-on-read resolved view: base ∪ delta rows, one winner per key
    in ``order``, delete tombstones dropped. On a pure-CoW table (no
    deltas) this short-circuits to the plain base scan — zero overhead.

    Resolve strategy is chosen from snapshot row-count stats (free,
    driver-side): when the delta backlog is SMALL relative to the base,
    keys present in deltas are isolated with a broadcast semi/anti split
    so the base is never shuffled and resolve cost is O(delta rows +
    their base rows). When deltas cover a large key fraction (e.g. just
    before a compaction under uniform-update load) the split would scan
    the base twice for nothing, so the resolve falls back to one scan +
    one map-side-combined hash-agg over base ∪ delta.

    ``columns``: project the resolution to these output columns. The
    dedup carries whole row structs through its shuffle — Catalyst
    cannot prune into ``max_by(struct(*))`` — so thin consumers (aggs
    that never touch text) MUST pass their column set or they shuffle
    the fat payload for nothing.
    """
    values = buckets if buckets is not None else table.partition_values()
    snap = table.snapshot()

    def _prj(df: DataFrame) -> DataFrame:
        if columns is None:
            return df
        need = list(dict.fromkeys([*keys, *order, "op", *columns]))
        return df.select(*[c for c in need if c in df.columns])

    has_deltas = any(snap.delta_files.get(_k) for _k in map(str, values))
    if not has_deltas:
        # Lake-level read hides retained tombstones (op='D') by default.
        return _prj(table.read_partitions(values, bounds=bounds, deltas="exclude"))
    if _delta_fraction_small(snap, values):
        # Resolution must see tombstones: base D beats an OLDER delta U.
        base = _prj(table.read_partitions(values, bounds=bounds, tombstones="include"))
        delta = _prj(table.read_partitions(values, deltas="only", tombstones="include"))
        contested_keys = delta.select(*keys).distinct()
        clean = base.join(F.broadcast(contested_keys), list(keys), "left_anti")
        contested = base.join(
            F.broadcast(contested_keys), list(keys), "left_semi"
        ).unionByName(delta)
        resolved = clean.unionByName(dedup_latest(contested, keys, order, strategy="agg"))
    else:
        # bounds prune BASE files only (same contract as the split
        # branch): delta files carry narrow per-epoch key spans, and
        # pruning them would drop keys whose only rows live in deltas.
        base = _prj(table.read_partitions(values, bounds=bounds, tombstones="include"))
        delta = _prj(table.read_partitions(values, deltas="only", tombstones="include"))
        resolved = dedup_latest(base.unionByName(delta), keys, order, strategy="agg")
    return resolved.where((F.col("op").isNull()) | (F.col("op") != "D"))


def _delta_fraction_small(snap, values, max_fraction: float = 0.2) -> bool:
    """True when recorded file row counts prove the delta backlog is at
    most ``max_fraction`` of the base for the scanned partitions. Files
    without stats make the answer conservative (False -> single-scan
    resolve, which is always correct)."""
    base_rows = delta_rows = 0
    for v in map(str, values):
        for f in snap.files.get(v, []):
            st = snap.file_stats.get(f)
            if not st or "__rows" not in st:
                return False
            base_rows += int(st["__rows"])
        for f in snap.delta_files.get(v, []):
            st = snap.file_stats.get(f)
            if not st or "__rows" not in st:
                return False
            delta_rows += int(st["__rows"])
    return base_rows > 0 and delta_rows <= base_rows * max_fraction


def compact(
    table: LakeTable,
    buckets: list | None = None,
    keys: tuple[str, ...] = DEFAULT_KEYS,
    order: tuple[str, ...] = DEFAULT_ORDER,
    summary: dict | None = None,
    drop_tombstones_below_lsn: int | None = None,
) -> bool:
    """Fold delta files back into the base for the given (default: all
    delta-bearing) partitions — one resolve + one partition replace.
    Returns False if there was nothing to compact.

    Tombstone retention: on tables with ``retain_tombstones`` set, winning
    D rows are kept in the compacted base so an out-of-order OLDER update
    in a later batch cannot resurrect the key. The compaction horizon is
    ``drop_tombstones_below_lsn``: once the caller knows no in-flight
    batch can carry an LSN below X (e.g. the replay low-water mark), pass
    X to physically drop tombstones older than it.

    Safe under concurrent ingest: the replace validates that no writer
    touched the compacted partitions between this function's read
    snapshot and its commit (``expected_version``); on conflict it
    re-reads the NEW state (picking up the freshly appended deltas) and
    retries, bounded. Matches Iceberg's RewriteFiles validation + retry."""
    from maritime_activity_reports_cdc_spark.sources.lake import (
        _MAX_COMMIT_RETRIES,
        CommitConflict,
    )

    requested = buckets
    for attempt in range(_MAX_COMMIT_RETRIES + 1):
        read_version = table.current_version()
        with_deltas = set(table.delta_partition_values(read_version))
        if requested is None:
            buckets = sorted(with_deltas)
        else:
            buckets = [b for b in requested if str(b) in with_deltas]
        if not buckets:
            return False
        both = table.read_partitions(
            buckets, version=read_version, deltas="include", tombstones="include"
        )
        # Dedup inside the bucket-partitioned window so the partitioned
        # replace below reuses the one exchange (guide §2.4) — compaction
        # folds the whole bucket either way, and the bucket is the same
        # per-task bound the storage layout already imposes.
        part_col = table.snapshot(read_version).partition_by
        if part_col is not None:
            resolved = dedup_latest_bucketed(both, keys, order, bucket_col=part_col)
        else:
            resolved = dedup_latest(both, keys, order, strategy="agg")
        is_tomb = F.col("op").isNotNull() & (F.col("op") == "D")
        if table.properties().get("retain_tombstones"):
            if drop_tombstones_below_lsn is not None:
                resolved = resolved.where(
                    ~is_tomb | (F.col(order[0]) >= F.lit(drop_tombstones_below_lsn))
                )
        else:
            resolved = resolved.where(~is_tomb)
        try:
            table.replace_partitions(
                resolved,
                summary={"operation_kind": "compaction", **(summary or {})},
                partition_values=buckets,
                expected_version=read_version,
                pre_partitioned=part_col is not None,
            )
            return True
        except CommitConflict:
            if attempt == _MAX_COMMIT_RETRIES:
                raise
    raise AssertionError("unreachable")


def rewrite_files(
    table: LakeTable,
    sort_by: tuple[str, ...] = DEFAULT_KEYS,
    partition_values: list | None = None,
    drop_tombstones_below_lsn: int | None = None,
    order: tuple[str, ...] = DEFAULT_ORDER,
    target_file_rows: int | None = None,
    zorder: tuple[str, ...] | None = None,
    zorder_bits: int | None = None,
) -> int:
    """File-layout maintenance for long-lived CoW tables — the engine's
    ``OPTIMIZE ... ZORDER BY`` analog (reference
    ``silver/table_setup.py:276-291``, ``gold/table_setup.py:364-382``):
    coalesce the small files each commit accretes and rewrite every
    partition clustered by ``sort_by``, so per-file min/max stats stay
    tight and bounds-pruning keeps working as the table ages. Optionally
    drops retained delete tombstones older than the caller's LSN horizon.

    Outstanding key-MoR deltas of the rewritten partitions are resolved
    (compacted) in the same pass — never copied into the base raw.

    ``zorder``: multi-dimensional clustering instead of ``sort_by`` —
    rows are ordered by a Morton-interleaved key over these columns
    (Delta ``OPTIMIZE ... ZORDER BY``), so per-file min/max stats stay
    simultaneously tight on EVERY z column and bounds pruning works for
    predicates on any of them, not just the leading sort key. Column
    [lo, hi] ranges come from ONE bounded min/max agg here and are
    persisted with the spec in the table's ``clustering`` property, so
    every later base rewrite (cow refresh, compaction) re-applies the
    same layout. Re-run ``rewrite_files`` to refresh ranges after the
    value domain drifts. On an unpartitioned table the rewrite
    range-partitions by the z key first, so the clustering is GLOBAL
    across files, parallelism preserved.

    One shuffle + one partition replace; returns the number of rewritten
    partitions. Run it as maintenance cadence, not per epoch."""
    if partition_values is not None:
        values = partition_values
    else:
        # include delta-ONLY partitions (a fresh MoR table can hold every
        # row in deltas with no base files yet — rewriting it must not
        # no-op)
        values = sorted(
            set(table.partition_values()) | set(table.delta_partition_values())
        )
    if not values:
        return 0
    has_deltas = any(
        table.snapshot().delta_files.get(str(v)) for v in values
    )
    fused_part_col = table.snapshot().partition_by
    df = table.read_partitions(values, deltas="include", tombstones="include")
    if has_deltas:
        # bucket-partitioned window dedup: the rewrite's own partition
        # exchange doubles as the dedup exchange (guide §2.4)
        if fused_part_col is not None:
            df = dedup_latest_bucketed(
                df, DEFAULT_KEYS, order, bucket_col=fused_part_col
            )
        else:
            df = dedup_latest(df, DEFAULT_KEYS, order, strategy="agg")
        if not table.properties().get("retain_tombstones"):
            df = df.where(F.col("op").isNull() | (F.col("op") != "D"))
    if drop_tombstones_below_lsn is not None and "op" in df.columns:
        is_old_tomb = (
            F.col("op").isNotNull()
            & (F.col("op") == "D")
            & (F.col(order[0]) < F.lit(drop_tombstones_below_lsn))
        )
        df = df.where(~is_old_tomb)
    zcluster = None
    if zorder:
        from maritime_activity_reports_cdc_spark.sources.lake import (
            zorder_column,
            zorder_rank_expr,
        )

        bits = zorder_bits or min(16, 62 // len(zorder))
        dtypes = dict(df.dtypes)
        aggs = []
        for c in zorder:
            r = zorder_rank_expr(c, dtypes[c])
            aggs += [F.min(r).alias(f"lo_{c}"), F.max(r).alias(f"hi_{c}")]
        row = df.agg(*aggs).first()  # one bounded driver action
        ranges = {c: [row[f"lo_{c}"], row[f"hi_{c}"]] for c in zorder}
        zcluster = {"zorder": list(zorder), "bits": bits, "ranges": ranges}
        zcol = zorder_column(dtypes, list(zorder), ranges, bits)
    part_col = fused_part_col
    if part_col is not None and not has_deltas:
        # the fused dedup above already established the partitioning
        df = df.repartition(F.col(part_col))
    elif part_col is None and zorder:
        # global z clustering across files at full parallelism: range
        # exchange on the z key, then the commit's sortWithinPartitions
        # (from the clustering property) orders within each range
        df = df.repartitionByRange(
            df.sparkSession.sparkContext.defaultParallelism, zcol
        )
    # ``target_file_rows`` splits each sorted partition into bounded
    # files whose per-file [min, max] stats cover DISJOINT sort-key
    # ranges — this is what keeps bounds-pruning effective as buckets
    # grow (at 100 TB: files sized ~512 MB, conv_id ranges tight). The
    # clustering itself is applied by the lake writer (sort_within): a
    # sortWithinPartitions BEFORE the partitioned write would be undone
    # by the writer's own partition-column sort.
    write_options = (
        {"maxRecordsPerFile": str(int(target_file_rows))} if target_file_rows else None
    )
    # declare the layout as the table's write-order: every later base
    # rewrite (cow refresh, compaction) re-applies it, so pruning keeps
    # working instead of dying at the next compaction cycle
    if zcluster is not None:
        clustering = {**zcluster, "target_file_rows": target_file_rows}
        summary_kind = {"operation_kind": "rewrite", "zorder": list(zorder)}
        sort_arg = None  # _commit builds the z expression from the spec
    else:
        clustering = {"sort_by": list(sort_by), "target_file_rows": target_file_rows}
        summary_kind = {"operation_kind": "rewrite", "sort_by": list(sort_by)}
        sort_arg = sort_by
    table.replace_partitions(
        df,
        summary=summary_kind,
        partition_values=values,
        pre_partitioned=True,
        write_options=write_options,
        sort_within=sort_arg,
        properties_update={"clustering": clustering},
    )
    return len(values)


def apply_changes(
    table: LakeTable,
    changes: DataFrame,
    epoch: int,
    source: str = "changes",
    keys: tuple[str, ...] = DEFAULT_KEYS,
    order: tuple[str, ...] = DEFAULT_ORDER,
    bucket_key: str = "conv_id",
    dedup_strategy: str = "agg",
    evolve_schema: bool = True,
    apply_mode: str = "cow",
) -> ApplyResult:
    """Apply one change batch (an epoch) to a bucket-partitioned table.

    The target table must be partitioned by ``BUCKET_COL`` and carry
    ``n_buckets`` in its properties (see ``plans/bronze.create_target``).

    Out-of-order safety: on tables with the ``retain_tombstones`` property
    (bronze sets it), a winning D persists as a tombstone row (op='D',
    null row image, order columns kept) instead of vanishing — so a later
    batch carrying an OLDER update for the key loses the version
    resolution and the key stays deleted, in both CoW and MoR modes.
    Tombstones are invisible to lake-level reads and are physically
    dropped by compaction/maintenance once the caller-supplied LSN horizon
    passes (``compact(drop_tombstones_below_lsn=...)``). Without the
    property, batches must arrive in non-decreasing LSN order (legacy
    contract: a D winner removes the key outright).
    """
    n_buckets = int(table.properties()["n_buckets"])
    retain_tombstones = bool(table.properties().get("retain_tombstones"))
    if table.last_epoch(source) >= epoch:
        return ApplyResult(epoch, False, None, None, None, 0, 0, 0, [], [])

    if evolve_schema:
        _evolve_for_batch(table, changes, keys)
    target_schema = table.schema()
    target_cols = [f.name for f in target_schema.fields]

    # MoR dedups INSIDE the bucket-partitioned window (one exchange,
    # reused by the partitioned delta write below — guide §2.4); the CoW
    # branch keeps the map-side-combining agg (its full-outer merge join
    # re-shuffles by key anyway, so there is no exchange to share).
    mor_fused = apply_mode == "mor" and dedup_strategy == "agg"
    if mor_fused:
        winners = dedup_latest_bucketed(
            changes.withColumn(BUCKET_COL, bucket_expr(bucket_key, n_buckets)),
            keys, order,
        )
    else:
        winners = dedup_latest(changes, keys, order, strategy=dedup_strategy)
        winners = winners.withColumn(BUCKET_COL, bucket_expr(bucket_key, n_buckets))
    # Normalize tombstones: null the row image of D winners (keys, order
    # and envelope stay). When the table declares a `mor_tombstone_col`
    # that is non-null for every I/U row (the property's contract), the
    # footer null-count of that column is an exact per-file delete count;
    # it also keeps stale payloads out of persisted tombstone rows.
    winners = _null_tombstone_image(winners, keys, order)

    if apply_mode == "mor":
        # Merge-on-read: ONE Spark action — dedup + delta append fused
        # into the write job. Lineage (rows, deletes, lsn range, buckets)
        # comes from the parquet footers the commit just recorded, so no
        # separate statistics pass runs. D tombstones are counted via the
        # footer null-count of the table's declared `mor_tombstone_col`
        # (a row-image column the apply nulls for D rows — see
        # _null_tombstone_image). Declaring the property is a CONTRACT
        # that the column is non-null for every I/U row in the feed —
        # a legitimately-null value on a live row is indistinguishable
        # from a tombstone image and would inflate the delete count
        # (lineage observability only; applied state is unaffected).
        # Feeds that can't promise that should leave the property unset:
        # tables without it fall back to an explicit (small) counting
        # aggregate.
        tomb_col = table.properties().get("mor_tombstone_col")
        fallback_counts: dict[int, list[int]] | None = None
        if tomb_col is None or tomb_col not in (
            table.properties().get("stats_cols") or []
        ):
            rows = (
                winners.groupBy(BUCKET_COL)
                .agg(
                    F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("_d"),
                    F.count("*").alias("_n"),
                )
                .collect()
            )
            fallback_counts = {
                int(r[BUCKET_COL]): [int(r["_n"] - r["_d"]), int(r["_d"])] for r in rows
            }
        try:
            snap = table.append_deltas(
                winners.select(*target_cols),
                summary={"source": source},
                epoch=(source, epoch),
                # fused path: winners came through the bucket-keyed window
                # exchange, so the write skips its defensive repartition
                pre_partitioned=mor_fused,
            )
        except EpochAlreadyApplied:
            return ApplyResult(epoch, False, None, None, None, 0, 0, 0, [], [])
        prefix = os.path.join("data", f"c{snap.version:08d}-")
        bucket_rows: dict[int, list[int]] = {}
        lsn_min = lsn_max = None
        for part_key, file_list in snap.delta_files.items():
            for f in file_list:
                if not f.startswith(prefix):
                    continue
                st = snap.file_stats.get(f, {})
                b = int(part_key) if part_key else -1
                if fallback_counts is None:
                    rows = int(st.get("__rows", 0))
                    dels = int(st.get(f"__nulls_{tomb_col}", 0))
                    agg_row = bucket_rows.setdefault(b, [0, 0])
                    agg_row[0] += rows - dels
                    agg_row[1] += dels
                else:
                    bucket_rows[b] = fallback_counts.get(b, [0, 0])
                if "lsn" in st:
                    lo, hi = st["lsn"]
                    lsn_min = lo if lsn_min is None else min(lsn_min, lo)
                    lsn_max = hi if lsn_max is None else max(lsn_max, hi)
        n_up = sum(v[0] for v in bucket_rows.values())
        n_del = sum(v[1] for v in bucket_rows.values())
        return ApplyResult(
            epoch=epoch,
            applied=True,
            snapshot_version=snap.version,
            lsn_min=None if lsn_min is None else int(lsn_min),
            lsn_max=None if lsn_max is None else int(lsn_max),
            n_keys=int(n_up + n_del),
            n_insert_update=int(n_up),
            n_delete=int(n_del),
            affected_buckets=sorted(bucket_rows),
            bucket_stats=[(b, v[0], v[1]) for b, v in sorted(bucket_rows.items())],
        )

    winners = winners.persist()
    try:
        stats = (
            winners.groupBy(BUCKET_COL)
            .agg(
                F.sum(F.when(F.col("op") != "D", 1).otherwise(0)).alias("n_up"),
                F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_del"),
                F.min("lsn").alias("lsn_min"),
                F.max("lsn").alias("lsn_max"),
            )
            .collect()
        )
        if not stats:
            table.commit_epoch_noop(source, epoch, {"rows": 0})
            return ApplyResult(
                epoch, True, table.current_version(), None, None, 0, 0, 0, [], []
            )
        affected = sorted(int(r[BUCKET_COL]) for r in stats)
        n_up = sum(r["n_up"] for r in stats)
        n_del = sum(r["n_del"] for r in stats)
        lsn_min = min(r["lsn_min"] for r in stats)
        lsn_max = max(r["lsn_max"] for r in stats)

        # Version-aware resolution over a single full-outer join:
        # - key only in target            -> target row survives untouched
        # - key only in batch             -> winner inserted (as a
        #         tombstone row when D and the table retains them)
        # - both: target (lsn,op_ordinal) newer-or-equal -> target stays
        #         (makes replayed/out-of-order batches converge — the
        #         defense Delta MERGE lacks, G5), else winner replaces
        #         (or tombstones/removes, for D).
        # Presence is detected via explicit marker columns added before
        # the join — NOT inferred from order-column nullness, so target
        # rows whose first order column is legitimately null survive.
        # The target carries the order columns as provenance, so this is
        # pure column algebra; AQE broadcasts the (small) winner side.
        # Tombstones must be read: a retained D must beat an older update.
        target_slice = table.read_partitions(affected, tombstones="include").withColumn(
            "_t_present", F.lit(True)
        )
        w_side = winners.withColumn("_w_present", F.lit(True))
        t_struct = F.struct(*[F.col(f"t.{c}").alias(c) for c in target_cols])
        w_struct = F.struct(
            *[
                (F.col(f"w.{c}") if c in winners.columns else F.lit(None)).cast(
                    target_schema[c].dataType
                ).alias(c)
                for c in target_cols
            ]
        )
        t_ord = F.struct(*[F.col(f"t.{o}") for o in order])
        w_ord = F.struct(*[F.col(f"w.{o}") for o in order])
        t_present = F.col("t._t_present").isNotNull()
        w_present = F.col("w._w_present").isNotNull()
        w_survives = w_present if retain_tombstones else (
            w_present & (F.col("w.op") != "D")
        )
        chosen = (
            F.when(t_present & (~w_present | (t_ord >= w_ord)), t_struct)
            .when(w_survives, w_struct)
            .otherwise(F.lit(None))
        )
        merged = (
            target_slice.alias("t")
            .join(w_side.alias("w"), on=list(keys), how="full_outer")
            .select(chosen.alias("_r"))
            .where(F.col("_r").isNotNull())
            .select("_r.*")
        )

        snap = table.replace_partitions(
            merged,
            summary={
                "source": source,
                "lsn_min": int(lsn_min),
                "lsn_max": int(lsn_max),
                "n_upserts": int(n_up),
                "n_deletes": int(n_del),
            },
            epoch=(source, epoch),
            partition_values=affected,
        )
        return ApplyResult(
            epoch=epoch,
            applied=True,
            snapshot_version=snap.version,
            lsn_min=int(lsn_min),
            lsn_max=int(lsn_max),
            n_keys=int(n_up + n_del),
            n_insert_update=int(n_up),
            n_delete=int(n_del),
            affected_buckets=affected,
            bucket_stats=[(int(r[BUCKET_COL]), int(r["n_up"]), int(r["n_del"])) for r in stats],
        )
    except EpochAlreadyApplied:
        return ApplyResult(epoch, False, None, None, None, 0, 0, 0, [], [])
    finally:
        winners.unpersist()


def _null_tombstone_image(
    df: DataFrame, keys: tuple[str, ...], order: tuple[str, ...]
) -> DataFrame:
    """Null every row-image column of D rows (keys, order columns and
    envelope survive). Keeps stale payloads out of persisted tombstones
    and makes footer null-counts an exact delete count."""
    if "op" not in df.columns:
        return df
    keep = set(keys) | set(order) | set(ENVELOPE_COLS) | {BUCKET_COL}
    is_del = F.col("op") == "D"
    return df.select(
        *[
            F.when(is_del, F.lit(None).cast(df.schema[c].dataType)).otherwise(F.col(c)).alias(c)
            if c not in keep
            else F.col(c)
            for c in df.columns
        ]
    )


def _evolve_for_batch(table: LakeTable, changes: DataFrame, keys: tuple[str, ...]) -> None:
    """Additive schema evolution: data columns present in the batch but
    absent from the target become new nullable target columns (null
    backfill for existing files is free — explicit-schema reads).
    Generalizes the reference's ``mergeSchema`` opt-in (S6,
    ``bronze/cdc_ingestion.py:59``) and null-init pattern (P9)."""
    target_fields = {f.name for f in table.schema().fields}
    skip = set(ENVELOPE_COLS) | {BUCKET_COL}
    new = [
        T.StructField(f.name, f.dataType, True)
        for f in changes.schema.fields
        if f.name not in target_fields and f.name not in skip
    ]
    if new:
        table.add_columns(new)
