"""Lake-to-lake medallion hop driven by the change-data-feed.

This is the reference's core topology — a downstream processor tailing
an upstream table's Delta CDF (``silver/cdf_processor.py:255-275`` in
/root/reference reads ``readChangeFeed`` + startingVersion and applies
to the next layer) — expressed over the engine's own tables: a
:class:`FeedRelay` tails any upstream :class:`LakeTable` with
:class:`ChangeFeedTail`, re-shapes each polled range into an apply-able
batch, and drives a downstream :class:`MedallionPipeline` epoch with it.

Exactly-once across crashes composes from the two primitives it reuses:
the feed offset is acknowledged only AFTER the downstream epoch commits,
so a crash between apply and ack redelivers the same version range —
and the downstream epoch guard (keyed on the upstream commit version)
makes the redelivered apply a no-op. No coordination state beyond the
offset file and the downstream table's own epoch map.

Scale: each cycle moves O(changed rows since last ack) — the feed read
is O(commit footprint) per upstream commit and the downstream apply is
the pipeline's normal incremental path. A chain of medallion hops
(bronze lake -> silver lake -> export lake) therefore costs change
volume, not table volume, end to end.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.operators.changefeed import (
    ChangeFeedTail,
    FeedExpiredError,
    changes_to_batch,
    snapshot_as_changes,
)
from maritime_activity_reports_cdc_spark.operators.apply import (
    DEFAULT_KEYS,
    DEFAULT_ORDER,
)
from maritime_activity_reports_cdc_spark.plans import bronze as bronze_plan
from maritime_activity_reports_cdc_spark.plans.pipeline import MedallionPipeline
from maritime_activity_reports_cdc_spark.sources.lake import LakeTable


class FeedRelay:
    """Tail an upstream table's change feed into a downstream pipeline.

    ``bootstrap_on_expiry=True`` makes the relay self-healing against
    upstream retention: when the acked offset falls behind
    ``expire_snapshots`` (a :class:`FeedExpiredError` on poll), it
    re-baselines from a full upstream snapshot — live rows become an
    upsert batch, and downstream keys absent upstream become tombstones —
    then resumes incremental tailing from that version. Off by default:
    a silent O(table) resync is a policy decision, not a default."""

    def __init__(
        self,
        upstream: LakeTable,
        downstream: MedallionPipeline,
        checkpoint_dir: str,
        keys: tuple[str, ...] = DEFAULT_KEYS,
        order: tuple[str, ...] = DEFAULT_ORDER,
        bootstrap_on_expiry: bool = False,
    ):
        os.makedirs(checkpoint_dir, exist_ok=True)
        self.tail = ChangeFeedTail(
            upstream,
            os.path.join(checkpoint_dir, "feed_offsets.json"),
            keys=keys,
            order=order,
        )
        self.downstream = downstream
        self.bootstrap_on_expiry = bootstrap_on_expiry

    def run_once(self) -> dict | None:
        """One poll -> apply -> ack cycle; ``None`` when caught up.

        The downstream epoch id IS the upstream commit version, so a
        redelivered range (crash between apply and ack) no-ops through
        the downstream epoch guard before being acknowledged."""
        try:
            polled = self.tail.poll()
        except FeedExpiredError:
            if not self.bootstrap_on_expiry:
                raise
            return self._bootstrap()
        if polled is None:
            return None
        changes, upto = polled
        batch = changes_to_batch(changes, order=self.tail.order)
        metrics = self.downstream.apply_epoch(batch, epoch=upto)
        self.tail.ack(upto)
        return {
            "upto_version": upto,
            "n_events": metrics.n_events,
            "total_secs": metrics.total_secs,
        }

    def _bootstrap(self) -> dict:
        """Full-snapshot resync after upstream retention expired the
        incremental range: upstream live state as upserts + tombstones
        for downstream keys that vanished upstream, applied as ONE epoch
        keyed on the upstream version (idempotent under redelivery).
        Order columns are rebased to the bootstrap version, which exceeds
        every previously relayed commit version, so the baseline wins
        over any stale downstream row."""
        changes, upto = snapshot_as_changes(
            self.tail.table, keys=self.tail.keys, order=self.tail.order
        )
        batch = changes_to_batch(changes, order=self.tail.order)
        key_cols = list(self.tail.keys)
        vanished = (
            bronze_plan.read_transcripts(self.downstream.bronze)
            .select(*key_cols)
            .join(batch.select(*key_cols), on=key_cols, how="left_anti")
        )
        cols = []
        for f in batch.schema.fields:
            if f.name in key_cols:
                cols.append(F.col(f.name))
            elif f.name == "op":
                cols.append(F.lit("D").cast(f.dataType).alias(f.name))
            elif f.name == self.tail.order[0]:
                cols.append(F.lit(upto).cast(f.dataType).alias(f.name))
            elif f.name in self.tail.order:
                cols.append(F.lit(0).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        full = batch.unionByName(vanished.select(*cols))
        metrics = self.downstream.apply_epoch(full, epoch=upto)
        self.tail.ack(upto)
        return {
            "upto_version": upto,
            "n_events": metrics.n_events,
            "total_secs": metrics.total_secs,
            "bootstrap": True,
        }

    def run(
        self,
        poll_secs: float = 2.0,
        max_polls: int | None = None,
        max_idle_polls: int = 3,
        finalize: bool = True,
    ) -> dict:
        """Bounded tail loop (the CLI/stream-manager cadence shape):
        polls until ``max_idle_polls`` consecutive empty polls (the
        upstream went quiet) or ``max_polls`` cycles, then finalizes the
        downstream (runs pending derived refreshes, drains the background
        flush and compaction)."""
        cycles, idle, applied = 0, 0, 0
        while (max_polls is None or cycles < max_polls) and idle < max_idle_polls:
            out = self.run_once()
            cycles += 1
            if out is None:
                idle += 1
                if idle < max_idle_polls:
                    time.sleep(poll_secs)
            else:
                idle = 0
                applied += 1
        if finalize:
            self.downstream.finalize()
        return {"cycles": cycles, "ranges_applied": applied}
