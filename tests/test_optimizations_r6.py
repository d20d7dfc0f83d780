"""Round-6 optimization equivalence tests.

Each optimization restructures HOW a result is computed (exchange
sharing, cache/plan changes) — these tests pin that the WHAT is
bit-identical to the unfused reference formulation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.operators.apply import (
    BUCKET_COL,
    bucket_expr,
    dedup_latest,
    dedup_latest_bucketed,
)


@pytest.fixture(scope="module")
def spark():
    from maritime_activity_reports_cdc_spark.session import get_spark

    s = get_spark(app_name="test-opt-r6", master="local[4]", shuffle_partitions=4)
    yield s


def _changes(spark, n=500, n_convs=23, seed=5):
    """Change batch with duplicate keys, exact redelivery duplicates and
    D rows — the shapes dedup must arbitrate."""
    df = spark.range(0, n).select(
        F.concat(F.lit("c"), F.pmod(F.xxhash64(F.lit(seed), "id"), F.lit(n_convs)).cast("string")).alias("conv_id"),
        F.pmod(F.xxhash64(F.lit(seed + 1), "id"), F.lit(7)).cast("int").alias("turn_idx"),
        F.when(F.pmod("id", F.lit(11)) == 3, "D").otherwise("U").alias("op"),
        F.col("id").alias("lsn"),
        F.pmod("id", F.lit(3)).cast("int").alias("op_ordinal"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
    )
    # exact redelivery duplicates (same lsn + op_ordinal + full row)
    return df.unionByName(df.where(F.pmod("id", F.lit(13)) == 0))


def test_bucketed_dedup_matches_agg_dedup(spark):
    changes = _changes(spark).withColumn(BUCKET_COL, bucket_expr("conv_id", 8))
    keys = ("conv_id", "turn_idx")
    order = ("lsn", "op_ordinal")
    ref = dedup_latest(changes, keys, order)
    fused = dedup_latest_bucketed(changes, keys, order)
    ref_rows = {tuple(r) for r in ref.collect()}
    fused_rows = {tuple(r) for r in fused.collect()}
    assert fused_rows == ref_rows
    # one winner per key
    assert fused.groupBy(*keys).count().where("count > 1").count() == 0


def test_bucketed_dedup_single_exchange(spark):
    """The fused plan must induce exactly ONE shuffle exchange (on the
    bucket), which a downstream bucket-partitioned write reuses."""
    changes = _changes(spark).withColumn(BUCKET_COL, bucket_expr("conv_id", 8))
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            dedup_latest_bucketed(changes)
            ._jdf.queryExecution().executedPlan().treeString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert plan.count("Exchange") == 1


def test_minhash_signatures_unchanged_by_distinct_removal(spark):
    """min() over the shingle multiset == min() over its set: dropping
    shingle_table's distinct must not change a single signature."""
    from maritime_activity_reports_cdc_spark.operators.dedup import (
        minhash_signatures,
        shingle_table,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{(i * 7 + j) % 11}" for j in range(30)))
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(docs, hash_fn="md5_48").collect()
    }
    # reference: explicit-distinct shingles through the same permutations
    from maritime_activity_reports_cdc_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        md5_48,
    )

    ex = shingle_table(docs, "doc_id", "text", 3, distinct=True).select(
        "_id", (md5_48(F.col("_s")) % F.lit(MINHASH_P)).alias("_h")
    )
    mins = [
        F.min((F.lit(MINHASH_A(i)) * F.col("_h") + F.lit(MINHASH_B(i))) % F.lit(MINHASH_P)).alias(f"_m{i}")
        for i in range(64)
    ]
    ref = ex.groupBy("_id").agg(*mins).select(
        "_id", F.array(*[f"_m{i}" for i in range(64)]).alias("sig")
    )
    want = {r["_id"]: r["sig"] for r in ref.collect()}
    assert got == want


def test_feed_expired_only_for_missing_manifests(spark, tmp_path, monkeypatch):
    """ADVICE r5 #2: a FileNotFoundError that is NOT a missing manifest
    must surface as-is, never as FeedExpiredError (which would trigger a
    silent full resync)."""
    import os

    import pytest as _pytest

    from maritime_activity_reports_cdc_spark.operators import changefeed
    from maritime_activity_reports_cdc_spark.operators.changefeed import (
        FeedExpiredError,
        read_changes,
    )
    from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

    df = spark.range(0, 50).selectExpr(
        "concat('c', pmod(id, 7)) AS conv_id", "CAST(id AS INT) AS turn_idx",
        "'U' AS op", "id AS lsn", "0 AS op_ordinal",
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), df.schema,
        properties={"stats_cols": []},
    )
    table.append(df, epoch=("s", 0))
    table.append(df.where("turn_idx >= 25"), epoch=("s", 1))
    # a missing DATA file of a retained snapshot (manifests intact) ->
    # the FileNotFoundError itself
    lost = FileNotFoundError(os.path.join(table.path, "data", "c00000001-x", "part-0.parquet"))

    def _lost_data_file(*_args, **_kwargs):
        raise lost

    with monkeypatch.context() as m:
        m.setattr(changefeed, "_commit_changes", _lost_data_file)
        with _pytest.raises(FileNotFoundError) as info:
            read_changes(table, 0)
    assert info.value is lost
    # expired manifest -> FeedExpiredError
    os.unlink(os.path.join(table._manifest_path(), "v00000001.json"))
    table._snap_cache.clear()
    with _pytest.raises(FeedExpiredError):
        read_changes(LakeTable.load(spark, table.path), 0)
