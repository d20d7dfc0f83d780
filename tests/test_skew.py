"""Hot-key skew fixture (FIXTURES.md §5): a few mega-conversations must
not break correctness, and both dedup strategies (partial-agg and salted
two-phase window) agree on it."""

from __future__ import annotations

from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.plans import bronze
from maritime_activity_reports_cdc_spark.sources.generator import generate_transcript_changes

from tests.helpers import assert_states_equal, naive_replay, table_state


def test_skewed_replay_correct_under_both_strategies(spark, tmp_path):
    changes = generate_transcript_changes(
        spark,
        n_conversations=50,
        turns_per_conv=6,
        update_ratio=0.5,
        delete_ratio=0.05,
        duplicate_ratio=0.05,
        hot_key_pct=5,
        hot_factor=40,  # hot conversations have 240+ turns vs 6
        seed=23,
    ).cache()
    hot_sizes = changes.groupBy("conv_id").count().agg(F.max("count"), F.min("count")).collect()[0]
    assert hot_sizes[0] > 20 * hot_sizes[1], "fixture must actually be skewed"

    expected = naive_replay(changes)
    for strategy in ("agg", "window"):
        t = bronze.create_transcripts_table(spark, str(tmp_path / strategy), n_buckets=4)
        bronze.replay_change_log(t, changes, n_chunks=3, dedup_strategy=strategy)
        assert_states_equal(table_state(t.read()), expected)
    changes.unpersist()


def test_chunked_enrichment_matches_plain_on_mega_conversation(spark):
    """A 10^5-turn conversation: the chunked two-phase window (bounded
    rows-per-task) must produce byte-identical enrichment to the plain
    per-conversation window, including across sparse turn_idx gaps and
    chunk boundaries."""
    import pandas as pd

    from maritime_activity_reports_cdc_spark.plans import silver as sp

    n = 100_000
    base = spark.range(n).select(
        F.lit("mega").alias("conv_id"),
        # sparse, irregular turn indices (every 3rd missing)
        (F.col("id") * 3 + F.pmod(F.col("id"), 2)).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.pmod(F.col("id"), 3) + 1).cast("int"),
        ).alias("role"),
        F.concat(F.lit("turn text "), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 7).alias("ts"),
    )
    small = spark.range(5).select(
        F.lit("tiny").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("hi there").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    df = base.unionByName(small)
    cols = ["conv_id", "turn_idx", "gap_secs", "turn_gap", "is_role_transition", "n_tokens"]
    plain = sp.enrich_conversations(df).select(cols).toPandas().sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    chunked = sp.enrich_conversations_chunked(df, chunk_size=7_000).select(cols).toPandas(
    ).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(plain, chunked, check_dtype=False)
    # the chunked plan really does split the mega conversation: its
    # heavy window partitions by (conv_id, chunk), giving ~n/chunk_size
    # independent groups instead of 1
    n_chunks = chunked[chunked.conv_id == "mega"].turn_idx.max() // (7_000 * 3)
    assert n_chunks >= 10


def test_minhash_lsh_salted_hot_bucket_same_pairs(spark):
    """A block of identical documents collapses into one LSH bucket per
    band. The salted hot-bucket path must produce EXACTLY the same
    candidate pair set as the plain self-join (completeness: every
    cross-salt pair formed once), while splitting the bucket's pair
    generation across n_salts tasks instead of one."""
    from maritime_activity_reports_cdc_spark.operators import dedup as DD

    n_dup = 400
    dup = spark.range(n_dup).select(
        F.col("id").alias("doc_id"),
        F.lit("the exact same document text repeated for every row here").alias("text"),
    )
    # every shingle carries the id so distinct docs share NO shingles
    distinct = spark.range(n_dup, n_dup + 50).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("a"), F.col("id"), F.lit(" b"), F.col("id"), F.lit(" c"),
            F.col("id"), F.lit(" d"), F.col("id"), F.lit(" e"), F.col("id"),
        ).alias("text"),
    )
    docs = dup.unionByName(distinct)

    salted = DD.minhash_lsh_candidates(
        docs, min_jaccard_est=0.5, skew_cap=50, n_salts=8
    )
    plain = DD.minhash_lsh_candidates(docs, min_jaccard_est=0.5)  # default single path
    n_expected = n_dup * (n_dup - 1) // 2
    assert plain.count() == n_expected
    assert salted.count() == n_expected
    # identical docs -> every pair estimated at exactly 1.0
    assert salted.where(F.col("jaccard_est") < 1.0).count() == 0
    # with the cap at 50, the 400-doc bucket is hot by construction,
    # so the count equality above exercised the salted path


def test_embedding_neardup_salted_hot_bucket_same_pairs(spark):
    """A block of near-identical embeddings — the exact workload semantic
    dedup exists for — collapses into ONE (band_idx, band_sig) bucket per
    band. The salted path must produce EXACTLY the same pair set as the
    plain self-join (count + order-independent pair checksum) while
    spreading each hot bucket's pair generation across n_salts tasks."""
    from maritime_activity_reports_cdc_spark.operators import similarity as SIM

    n_dup, n_rand, dim = 1500, 100, 16
    dup = spark.range(n_dup).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i + 1)) for i in range(dim)]).alias("embedding"),
    )
    rand = spark.range(n_dup, n_dup + n_rand).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.pmod(F.xxhash64(F.col("id"), F.lit(i)), 1000) / 500.0 - 1.0)
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    corpus = dup.unionByName(rand)

    def pair_sig(df):
        # pmod keeps the order-independent checksum inside long range
        # (a raw xxhash64 sum overflows under ANSI arithmetic)
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64("id_a", "id_b"), F.lit(2**31))).alias("h"),
        ).collect()[0]
        return (r.n, r.h)

    plain = SIM.embedding_neardup_pairs(
        corpus, min_cosine=0.999, bands=4, rows_per_band=4
    )
    salted = SIM.embedding_neardup_pairs(
        corpus, min_cosine=0.999, bands=4, rows_per_band=4, skew_cap=100, n_salts=8
    )
    ps, ss = pair_sig(plain), pair_sig(salted)
    assert ps[0] == n_dup * (n_dup - 1) // 2, "identical block must fully pair"
    assert ps == ss, "salted pair set diverged from plain"
    # with the cap at 100, the 1500-vector bucket is hot by construction,
    # so the equality above exercised the salted path end to end
