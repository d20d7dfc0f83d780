"""Human-facing observability: data-quality and pipeline reports.

Functional rebuild of the reference's ``utils/data_quality.py:167-247``
(quality-report object) as a one-pass quality report.

Shape note vs the reference: ``get_quality_report`` there runs one
``count()`` job PER key field plus separate agg/groupBy jobs. Here the
score statistics and every field's completeness come from ONE aggregate
pass and the category distribution from one groupBy — two jobs total,
regardless of field count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quality_report(
    df: DataFrame,
    table_name: str,
    score_col: str = "quality_score",
    category_col: str = "quality_category",
    key_fields: tuple[str, ...] = ("conv_id", "turn_idx", "role", "text", "ts"),
) -> dict:
    """Quality-report object (reference ``utils/data_quality.py:167-247``
    vocabulary: score stats, category distribution, per-field
    completeness) computed in two jobs."""
    fields = [f for f in key_fields if f in df.columns]
    aggs = [
        F.count("*").alias("_total"),
        F.avg(score_col).alias("_avg"),
        F.min(score_col).alias("_min"),
        F.max(score_col).alias("_max"),
        F.stddev(score_col).alias("_std"),
    ] + [F.count(f).alias(f"_nn_{f}") for f in fields]
    row = df.agg(*aggs).collect()[0]
    total = int(row["_total"])
    if total == 0:
        return {"table_name": table_name, "total_records": 0,
                "error": "No data to analyze"}
    dist = {
        r[category_col]: r["n"]
        for r in df.groupBy(category_col).agg(F.count("*").alias("n")).collect()
    } if category_col in df.columns else {}
    return {
        "table_name": table_name,
        "total_records": total,
        "quality_statistics": {
            "average_score": row["_avg"],
            "minimum_score": row["_min"],
            "maximum_score": row["_max"],
            "standard_deviation": row["_std"],
        },
        "quality_distribution": dist,
        "data_completeness": {
            f: {
                "non_null_count": int(row[f"_nn_{f}"]),
                "completeness_percentage": 100.0 * int(row[f"_nn_{f}"]) / total,
            }
            for f in fields
        },
    }


def pipeline_report(pipeline) -> dict:
    """Lake-wide report: silver quality + relay throughput from the
    persisted ``_metrics`` table + per-table snapshot state."""
    from maritime_activity_reports_cdc_spark.plans.silver import read_silver

    out: dict = {"generated_for": pipeline.root}
    out["silver_quality"] = quality_report(
        read_silver(pipeline.silver,
                    columns=["conv_id", "turn_idx", "role", "text", "ts",
                             "quality_score", "quality_category"]),
        "silver_transcripts",
    )
    m = pipeline.metrics.read()
    mrow = m.agg(
        F.count("*").alias("n_epochs"),
        F.sum("n_events").alias("events"),
        F.sum("total_secs").alias("secs"),
        F.avg("events_per_sec").alias("avg_eps"),
    ).collect()[0]
    out["relay"] = {
        "epochs": int(mrow["n_epochs"] or 0),
        "events_applied": int(mrow["events"] or 0),
        "wall_secs": float(mrow["secs"] or 0.0),
        "avg_events_per_sec": float(mrow["avg_eps"] or 0.0),
    }
    tables = {}
    for name in ("bronze", "silver", "summary", "daily", "conv_dates", "conv_master"):
        t = getattr(pipeline, name, None)
        if t is None:
            continue
        snap = t.snapshot()
        tables[name] = {
            "version": snap.version,
            "partitions": len(snap.files),
            "base_files": sum(len(v) for v in snap.files.values()),
            "delta_files": sum(len(v) for v in snap.delta_files.values()),
        }
    out["tables"] = tables
    return out
