"""Corpus-curation operators for training-data pipelines.

Three operations every large-scale pretraining pipeline runs that are
distinct from intra-corpus dedup (``operators/dedup.py``):

- **decontamination** (`contamination_pairs`): detect evaluation/test
  documents whose content leaks into the training corpus via n-gram
  CONTAINMENT (overlap / |test shingles| — the asymmetric metric the
  GPT-3/PaLM decontamination appendices use, not symmetric Jaccard: a
  short benchmark prompt embedded in a long web page is contamination
  even though the Jaccard is tiny).
- **deterministic hash sampling** (`hash_sample`): corpus downsampling
  that is reproducible across runs, engines, and partitionings —
  membership depends only on the key, never on partition layout or an
  RNG stream, so resampling at a larger scale keeps the subset nested.
- **per-group quota sampling** (`quota_sample`): "at most N documents
  per source/domain" — the standard guard against a single crawl domain
  dominating the mixture. Deterministic rank within group via the same
  keyed hash.

All three are pure DataFrame column algebra (no UDFs, no RDDs) and
SQL-reproducible for oracle checking (``hash_fn='md5_48'``).

Scale notes (100 TB):
- `contamination_pairs` joins the two corpora on the shingle value —
  a bucketed equi-join that shuffles O(total shingles), never a cross
  product. The test side of a decontamination run is orders of
  magnitude smaller than train (benchmarks vs a crawl), so its shingle
  set is semi-join-reduced BEFORE the train-side shuffle: train
  shingles that match no test shingle drop at the map side via a
  broadcast of the distinct test-shingle set when it is small enough
  (`broadcast_threshold`), making the big side's shuffle O(matching
  shingles) instead of O(all train shingles).
- `hash_sample` is a stateless filter — fully pushed into the scan
  stage, no shuffle at all.
- `quota_sample` shuffles once on the group column; group cardinality
  is domains/sources (millions at most), and the per-group ordering
  hash is computed map-side. Heavily skewed groups (one domain = half
  the crawl) stream through a single reducer only for ranking — cap
  pathological groups upstream with `hash_sample` if needed.

Reference provenance: the reference pipeline has no curation layer
(silver/cdf_processor.py stops at per-row quality flags); these
operators extend the engine for the LLM-training workloads named in
SURVEY.md §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from maritime_activity_reports_cdc_spark.operators.dedup import (
    _hasher,
    shingle_table,
)


def contamination_pairs(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_containment: float = 0.5,
    broadcast_threshold: int | None = 1_000_000,
) -> DataFrame:
    """Cross-corpus contamination: (test_id, train_id, n_common, n_test,
    containment) for every pair whose shingle CONTAINMENT
    ``|test ∩ train| / |test|`` meets the threshold.

    Shape: shingle both corpora (distinct n-grams per doc), semi-join
    the train side down to shingles that occur in the (small) test
    corpus — broadcast when the distinct test-shingle count is within
    ``broadcast_threshold`` (one count on an already-shuffled distinct
    frame), shuffle semi-join otherwise — then one equi-join on the
    shingle and a (test_id, train_id) count-aggregate. The quadratic
    term is bounded by real shared shingles; disjoint corpora cost one
    scan each.

    ``min_containment=1.0`` is exact-substring-style leakage (every
    test shingle occurs in the train doc); decontamination sweeps
    typically flag at 0.5-0.8.
    """
    sh_test = shingle_table(test, id_col, text_col, shingle_n).select(
        F.col("_id").alias("_tid"), "_s"
    )
    sh_train = shingle_table(train, id_col, text_col, shingle_n).select(
        F.col("_id").alias("_rid"), "_s"
    )
    test_counts = sh_test.groupBy("_tid").agg(F.count("*").alias("n_test"))

    probe = sh_test.select("_s").distinct()
    if broadcast_threshold is not None:
        # the count runs on the deduped shingle set (small for a test
        # corpus); one bounded driver action decides the join strategy
        if probe.count() <= broadcast_threshold:
            probe = F.broadcast(probe)
    sh_train = sh_train.join(probe, "_s", "left_semi")

    common = (
        sh_test.join(sh_train, "_s")
        .groupBy("_tid", "_rid")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(test_counts, "_tid")
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_test"), 6)
        )
        .where(F.col("containment") >= min_containment)
        .select(
            F.col("_tid").alias("test_id"),
            F.col("_rid").alias("train_id"),
            "n_common",
            "n_test",
            "containment",
        )
    )


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    seed: int = 7,
    hash_fn: str = "xxhash64",
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic keyed sample: keep a row iff
    ``hash(seed, key) mod denom < fraction * denom``.

    Unlike ``DataFrame.sample`` the decision is a pure function of the
    KEY — stable across runs, partitionings, engines (md5_48 mode
    reproduces in any SQL dialect), and nested across rates (a 1%
    sample is a subset of the 10% sample at the same seed). A stateless
    filter: Catalyst pushes it into the scan, no shuffle, no RNG state.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    H = _hasher(hash_fn)
    cut = int(fraction * denom)
    return df.where(F.pmod(H(F.lit(seed), F.col(key_col)), F.lit(denom)) < cut)


def weighted_mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: int = 7,
    hash_fn: str = "xxhash64",
    default_weight: float = 0.0,
    denom: int = 1_000_000,
) -> DataFrame:
    """Per-group sampling rates — the mixture knob a pretraining corpus
    applies per source/domain ("keep 100% of books, 8% of crawl").

    Same keyed-hash membership as `hash_sample` (deterministic, nested
    across rates, engine-reproducible in md5_48 mode) with the cut
    looked up per group from a broadcast weights dim. Groups absent
    from ``weights`` fall back to ``default_weight`` (0.0 = drop —
    an explicit mixture is usually a whitelist). Stateless map-side
    filter after a broadcast join; no shuffle of the corpus.
    """
    for g, w in weights.items():
        if not 0.0 <= w <= 1.0:
            raise ValueError(f"weight for {g!r} must be in [0, 1], got {w}")
    spark = df.sparkSession
    wdim = spark.createDataFrame(
        [(g, int(w * denom)) for g, w in weights.items()],
        f"{group_col} string, _cut long",
    )
    H = _hasher(hash_fn)
    default_cut = int(default_weight * denom)
    return (
        df.join(F.broadcast(wdim), group_col, "left")
        .where(
            F.pmod(H(F.lit(seed), F.col(key_col)), F.lit(denom))
            < F.coalesce(F.col("_cut"), F.lit(default_cut))
        )
        .drop("_cut")
    )


def pack_documents(
    df: DataFrame,
    seq_len: int,
    token_col: str = "n_tokens",
    shard_col: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are laid
    end-to-end in deterministic ``id_col`` order and cut into bins of
    ``seq_len`` tokens. Returns the input columns plus

    - ``bin_id``     — the bin the document STARTS in,
    - ``bin_offset`` — its token offset within that bin,
    - ``n_bins``     — how many bins it spans (long docs cross cuts).

    This is the mapping a training loader needs to materialize packed
    sequences without moving the text: one cumulative sum, no UDFs.

    Scale: a single global order is a one-reducer window — wrong at
    corpus scale. Pass ``shard_col`` to pack per shard (each shard gets
    its own bin namespace), which is how packed pretraining data is
    actually laid out (bins never cross file/shard boundaries);
    parallelism is then shard-granular. Without it, the global window
    is only appropriate for small corpora (a warning is in the plan:
    Spark itself flags the unpartitioned window).
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    w = (
        Window.partitionBy(shard_col) if shard_col else Window.partitionBy()
    ).orderBy(id_col)
    start = F.coalesce(
        F.sum(token_col).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    # exact 64-bit integer division (`div`) — double division would lose
    # precision once shard token offsets pass 2^53
    L = int(seq_len)
    return (
        df.withColumn("_start", start)
        .withColumn("bin_id", F.expr(f"_start div {L}"))
        .withColumn("bin_offset", F.expr(f"_start % {L}"))
        # bins touched = ceil(end/L) - floor(start/L)
        .withColumn(
            "n_bins",
            F.expr(
                f"((_start + cast({token_col} as bigint) + {L - 1}) div {L})"
                f" - (_start div {L})"
            ),
        )
        .drop("_start")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap_tokens: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style sliding-window chunking: split each document into
    windows of ``chunk_tokens`` tokens advancing by
    ``chunk_tokens - overlap_tokens`` — the step between curation and
    embedding/indexing in a retrieval pipeline. Returns one row per
    chunk: ``(id, chunk_idx, chunk_start, n_chunk_tokens, chunk_text)``.

    Chunk count is exact integer arithmetic (every window past the
    first must introduce at least one new token; short documents yield
    exactly one chunk), so the layout is engine-reproducible with no
    float ceil. All column algebra: one tokenize, one ``sequence``
    explode, one ``slice`` + ``array_join`` per chunk — cost
    O(tokens x chunks/token), embarrassingly parallel per document,
    no shuffle at all (a stateless generator, like `hash_sample`)."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"overlap_tokens must be in [0, chunk_tokens), got {overlap_tokens}"
        )
    from maritime_activity_reports_cdc_spark.operators.dedup import normalize_text

    stride = chunk_tokens - overlap_tokens
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.split(normalize_text(text_col), " ").alias("_w"),
    ).withColumn("_n", F.size("_w").cast("long"))
    n_chunks = F.expr(
        f"greatest((_n - {overlap_tokens} + {stride - 1}) div {stride}, 1)"
    )
    return (
        toks.withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
        )
        .withColumn("chunk_start", F.col("chunk_idx") * stride)
        .select(
            F.col("_id").alias(id_col),
            "chunk_idx",
            "chunk_start",
            F.least(F.lit(chunk_tokens), F.col("_n") - F.col("chunk_start"))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.array_join(
                F.slice(
                    F.col("_w"),
                    (F.col("chunk_start") + 1).cast("int"),
                    chunk_tokens,
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


def quota_sample(
    df: DataFrame,
    group_col: str = "source",
    n_per_group: int = 10,
    key_col: str = "doc_id",
    seed: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-group quota: at most ``n_per_group`` rows per ``group_col``,
    chosen by deterministic keyed-hash order (ties broken by the key) —
    a reproducible "uniform-ish N per domain" cap with no RNG. One
    shuffle on the group column; the ordering hash is computed map-side.
    Output drops the internal rank."""
    H = _hasher(hash_fn)
    w = Window.partitionBy(group_col).orderBy(
        H(F.lit(seed), F.col(key_col)).alias("_hk"), F.col(key_col)
    )
    return (
        df.withColumn("_qrk", F.row_number().over(w))
        .where(F.col("_qrk") <= n_per_group)
        .drop("_qrk")
    )


# PII scrub patterns: (column suffix, regex, replacement token), applied
# IN ORDER with each count taken on the already-partially-redacted text
# (so a digit run consumed by an earlier pattern is never double-counted).
# Kept to lookaround-free syntax valid in both Java regex (Spark) and
# RE2 (DuckDB/Go scanners) so the scrub is engine-reproducible.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[ -]?\d{3}[ -]?\d{4}", "<PHONE>"),
)


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: tuple[tuple[str, str, str], ...] = PII_PATTERNS,
) -> DataFrame:
    """Redact PII spans from ``text_col``, keeping per-pattern match
    counts for audit (the curation step every public-web corpus runs
    before training). Replaces the text column with its redacted form
    and adds one ``n_<name>`` BIGINT column per pattern.

    Pure column algebra — ``regexp_count`` + ``regexp_replace`` chains,
    JVM-side expressions, no Python rows, zero shuffles: a stateless map
    over the corpus that composes with any scan. Pattern list is
    caller-extensible (SSNs, credit cards, secrets) under the same
    two-engine regex subset."""
    cur = F.col(text_col)
    counts = []
    for name, pat, token in patterns:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, token)
    return df.select(
        *[c for c in df.columns if c != text_col],
        *counts,
        cur.alias(text_col),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_word_frac: float = 0.6,
    max_top_bigram_frac: float = 0.18,
) -> DataFrame:
    """Gopher-style repetition quality stats (Rae et al. 2021 §A1.1):
    the fraction of tokens that are repeats of an earlier token and the
    fraction of all bigrams taken by the single most frequent bigram —
    the two cheap signals that catch boilerplate/spam/keyword-stuffed
    documents. Returns ``(id, n_tokens, dup_word_frac,
    top_bigram_frac, keep)``.

    The duplicate-word fraction is shuffle-free array algebra
    (``array_distinct``, a JVM expression); the bigram mode uses
    explode + two partial-agg ``groupBy`` rounds rather than per-row
    O(n^2) array scans — at corpus scale the shuffle is on (doc,
    bigram) keys and combines map-side, so no single document's token
    count inflates a task. Single-token documents keep by definition."""
    from maritime_activity_reports_cdc_spark.operators.dedup import normalize_text

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.split(normalize_text(text_col), " ").alias("_w"),
    ).withColumn("_n", F.size("_w").cast("long"))
    base = toks.select(
        "_id",
        "_n",
        F.round(
            F.when(
                F.col("_n") > 0,
                (F.col("_n") - F.size(F.array_distinct("_w"))) / F.col("_n"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_word_frac"),
        "_w",
    )
    bigram = (
        base.select(
            "_id",
            # sequence(1, 0) is DESCENDING in Spark, not empty -> guard
            # single-token docs explicitly (explode of array() drops them;
            # the left join re-admits them with a 0.0 bigram fraction)
            F.explode(
                F.expr(
                    "if(_n < 2, array(), "
                    "transform(sequence(1, _n - 1), i -> concat(_w[i-1], ' ', _w[i])))"
                )
            ).alias("_bg"),
        )
        .groupBy("_id", "_bg")
        .agg(F.count("*").alias("_c"))
        .groupBy("_id")
        .agg(
            F.max("_c").alias("_top"),
            F.sum("_c").alias("_total"),
        )
    )
    return (
        base.drop("_w")
        .join(bigram, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.col("_n").alias("n_tokens"),
            "dup_word_frac",
            F.round(
                F.coalesce(F.col("_top") / F.col("_total"), F.lit(0.0)), 6
            ).alias("top_bigram_frac"),
        )
        # thresholds compare the ROUNDED fractions (what the row reports,
        # and what an external engine reproduces digit-for-digit)
        .withColumn(
            "keep",
            (F.col("dup_word_frac") <= max_dup_word_frac)
            & (F.col("top_bigram_frac") <= max_top_bigram_frac),
        )
    )


def segment_dedup(
    df: DataFrame,
    seg_words: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style duplicate-span removal (Raffel et al. 2020 §2.2):
    split every document into consecutive ``seg_words``-token segments,
    drop every segment whose exact normalized text occurs earlier in
    the corpus (first occurrence by ``(doc_id, seg_idx)`` wins), and
    reassemble what survives. Returns ``(doc_id, clean_text,
    n_segs_kept, n_segs_total)``; documents that lose every segment
    (pure boilerplate) disappear, matching C4's drop rule. (C4 dedups
    three-sentence spans; the corpus here has no sentence boundaries,
    so spans are fixed-width token windows — the same global
    exact-span semantics.)

    Plan: one explode to segments, ONE shuffle on the segment hash for
    the global first-occurrence window, one per-doc reassembly
    aggregate. The window partitions by the segment fingerprint —
    group size = duplication factor of that one span, so a boilerplate
    span repeated across millions of pages ranks inside its own
    partition and nothing quadratic forms. Reassembly concatenates at
    most the original document back together (map-side combinable
    collect_list on the doc key).
    """
    if seg_words < 1:
        raise ValueError(f"seg_words must be >= 1, got {seg_words}")
    from maritime_activity_reports_cdc_spark.operators.dedup import normalize_text

    words = df.select(
        F.col(id_col).alias("_id"),
        F.split(normalize_text(text_col), " ").alias("_w"),
    ).withColumn("_n", F.size("_w").cast("long"))
    segs = words.where(F.col("_n") > 0).select(
        "_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, cast((_n + {seg_words} - 1) div {seg_words} as int) - 1), "
                f"i -> struct(i as seg_idx, "
                f"array_join(slice(_w, i * {seg_words} + 1, {seg_words}), ' ') as seg_text))"
            )
        ).alias("_s"),
    ).select("_id", F.col("_s.seg_idx").alias("_seg_idx"), F.col("_s.seg_text").alias("_seg"))
    w = Window.partitionBy(F.md5("_seg")).orderBy("_id", "_seg_idx")
    kept = segs.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    totals = segs.groupBy("_id").agg(F.count("*").alias("n_segs_total"))
    rebuilt = (
        kept.groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_seg_idx", "_seg"))),
                    lambda s: s["_seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_segs_kept"),
        )
    )
    return (
        rebuilt.join(totals, "_id")
        .select(
            F.col("_id").alias(id_col),
            "clean_text", "n_segs_kept", "n_segs_total",
        )
    )


def badword_stats(
    df: DataFrame,
    badwords: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bad_frac: float = 0.1,
) -> DataFrame:
    """C4-style blocklist filter: the fraction of a document's tokens
    that appear in a word blocklist, plus the keep decision. Returns
    ``(doc_id, n_tokens, n_bad, bad_frac, keep)`` for every document.

    The blocklist rides as a broadcast one-column dim (a real
    blocklist is thousands of entries — far under any broadcast
    threshold); tokens left-join it map-side, so the corpus shuffles
    only for its own per-doc aggregate. A conditional count, not a
    filter, so the caller can audit the distribution before choosing
    the threshold."""
    if not badwords:
        raise ValueError("badwords must be non-empty")
    from maritime_activity_reports_cdc_spark.operators.dedup import normalize_text

    spark = df.sparkSession
    dim = spark.createDataFrame([(b.lower(),) for b in badwords], "_t string").distinct()
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("_t"),
    )
    return (
        toks.join(F.broadcast(dim.withColumn("_bad", F.lit(1))), "_t", "left")
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_bad"), F.lit(0))).cast("long").alias("n_bad"),
        )
        .select(
            id_col, "n_tokens", "n_bad",
            # 6-dp fraction via pure integer half-up division, then one
            # exact-input IEEE double division: engines cannot disagree.
            # (ROUND(n_bad/n_tokens, 6) hits the HALF_UP-vs-HALF_EVEN
            # boundary exactly whenever n_tokens is 128, 64e1, ... —
            # power-of-two counts make the true ratio terminate at the
            # 7th decimal digit.)
            (
                F.expr("(2000000 * n_bad + n_tokens) div (2 * n_tokens)").cast("double")
                / F.lit(1_000_000.0)
            ).alias("bad_frac"),
        )
        .withColumn("keep", F.col("bad_frac") <= max_bad_frac)
    )


def temperature_weights(
    df: DataFrame,
    alpha: float = 0.3,
    group_col: str = "source",
) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-sampling
    rule from mBERT/XLM-R, applied to any grouping): sampling weight
    proportional to ``count^alpha``, flattening the head and boosting
    the tail as ``alpha -> 0``. Returns ``(source, n_docs, weight)``
    with ``sum(weight) = 1``.

    The per-group ``count^alpha`` is rounded to 7 dp and summed as
    DECIMAL over the (tiny, post-aggregate) group frame so the
    normalizing denominator — and therefore every weight — is
    order-independent and engine-reproducible. One map-side-combined
    groupBy on the corpus; everything after operates on rows =
    #groups. Feed the result straight into
    ``weighted_mixture_sample`` (scaled by the caller's target size)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    counts = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    powed = counts.withColumn(
        "_p", F.round(F.pow(F.col("n_docs"), F.lit(alpha)), 7).cast("decimal(20,7)")
    )
    return (
        powed.withColumn("_denom", F.sum("_p").over(Window.partitionBy()))
        .select(
            group_col, "n_docs",
            F.round(
                F.col("_p").cast("double") / F.col("_denom").cast("double"), 6
            ).alias("weight"),
        )
    )
