"""Physical-plan audits for the curation / clustering operators: the
shapes that must hold at 100 TB (statelessness, broadcastability,
map-side combine) asserted on the executed plan, not inferred from
timings. AQE is disabled around plan materialization — an
AdaptiveSparkPlan root hides its subtree until execution."""

from __future__ import annotations

import contextlib

import pytest

from maritime_activity_reports_cdc_spark.operators import curation as CU
from maritime_activity_reports_cdc_spark.operators import similarity as SIM


@contextlib.contextmanager
def _no_aqe(spark):
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    # no size-estimate broadcasts: only explicit F.broadcast hints
    # survive, mimicking at-scale estimates
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)


def _plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    assert "AdaptiveSparkPlan" not in plan.nodeName(), "disable AQE first"
    return plan.treeString()


def _docs(spark, n=50):
    return spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} tok{i % 3} alpha beta gamma delta") for i in range(n)],
        "doc_id long, text string",
    )


def test_scrub_pii_and_chunking_are_shuffle_free(spark):
    with _no_aqe(spark):
        assert "Exchange" not in _plan(CU.scrub_pii(_docs(spark)))
        assert "Exchange" not in _plan(
            CU.chunk_documents(_docs(spark), chunk_tokens=4, overlap_tokens=1)
        )


def test_repetition_stats_uses_partial_aggregation(spark):
    with _no_aqe(spark):
        plan = _plan(CU.repetition_stats(_docs(spark)))
    assert "CartesianProduct" not in plan
    # the bigram mode must combine map-side before the (doc, bigram)
    # exchange — the property that stops a hot document flooding a task
    assert "partial_count" in plan


def test_kmeans_plan_broadcasts_centroids_never_cartesian(spark):
    rows = [(i, [float(i % 7), 1.0, 0.5, float(i % 3)]) for i in range(40)]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with _no_aqe(spark):
        plan = _plan(SIM.kmeans_embeddings(d, k=4, n_iter=2))
    assert "CartesianProduct" not in plan
    # centroid set joins as an explicit broadcast (nested-loop over k
    # rows), so the vector side is never shuffled for assignment
    assert "BroadcastNestedLoopJoin" in plan
    # sanity: the helper must refuse AQE-wrapped plans (guards against
    # silently-vacuous string checks on a hidden subtree). The session
    # default has AQE off, so turn it on for this one frame.
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        aqe_frame = SIM.kmeans_embeddings(d, k=2, n_iter=1)
        aqe_frame.collect()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
    with pytest.raises(AssertionError, match="disable AQE"):
        _plan(aqe_frame)
