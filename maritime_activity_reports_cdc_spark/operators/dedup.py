"""Document deduplication operators for training-data pipelines.

Beyond the reference's key-based dedup (D1-D3 in SURVEY.md §2.8 —
``dropDuplicates`` / ``SELECT DISTINCT``), these are the content-based
dedup strategies a 100 TB corpus pipeline needs. All hot paths are
JVM-side column algebra (higher-order functions over token arrays);
nothing is row-at-a-time Python.

Scale notes per operator:
- exact: one hash-agg (map-side combined), shuffle on the fingerprint.
- minhash+LSH: signature computation is embarrassingly parallel; the
  candidate join shuffles on (band_idx, band_hash) — pairs only form
  inside LSH buckets, never a global cross join.
- simhash: one token explode + one 64-expression groupBy (single
  shuffle); bucketing by hamming-prefix gives candidate blocking.
- n-gram jaccard: shingle explode + self-join *within blocks* (caller
  supplies a blocking column to bound the quadratic term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text(col: str | F.Column = "text") -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))


def md5_48(col: F.Column) -> F.Column:
    """First 48 bits of md5 as a positive BIGINT — the cross-engine
    verifiable hash: DuckDB computes the identical value as
    ``('0x' || substr(md5(x), 1, 12))::BIGINT``, so sketches built on it
    (minhash/simhash/hyperplane signs) can be oracle-checked bit-for-bit.
    ``xxhash64`` stays the default for production (faster, 64-bit); pass
    ``hash_fn='md5_48'`` to the sketch operators for verifiability."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast("long")


def _hasher(hash_fn: str):
    if hash_fn == "xxhash64":
        return lambda *cols: F.xxhash64(*cols)
    if hash_fn == "md5_48":
        # multi-arg: join with ':' so DuckDB reproduces via a || ':' || b
        return lambda *cols: md5_48(
            cols[0] if len(cols) == 1 else F.concat_ws(":", *cols)
        )
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


# Affine-permutation family for the md5_48 minhash mode (documented so
# the DuckDB oracle regenerates the identical family):
#
#   m_i(h) = (A(i) * (h mod P) + B(i)) mod P,  P = 2^31 - 1 (prime)
#
# The base hash is reduced mod P FIRST so that A*h + B stays below 2^62
# and the arithmetic is exact 64-bit in both Spark and DuckDB. A(i) in
# [1, P-1] and B(i) in [0, P-1] are drawn deterministically from md5
# digests at import time, giving a proper Carter-Wegman universal family
# over the field Z_P — the mod genuinely wraps, so distinct slots pick
# independent min-shingles. (An earlier variant used small A with
# P = 2^61-1; A*h never reached P, every map was monotonic in h, and all
# slots collapsed to the same min-shingle — caught in round-2 review.)
MINHASH_P = (1 << 31) - 1


def _minhash_const(tag: str, i: int, lo: int) -> int:
    import hashlib

    d = int.from_bytes(hashlib.md5(f"minhash:{tag}:{i}".encode()).digest()[:8], "big")
    return lo + d % (MINHASH_P - lo)


def MINHASH_A(i: int) -> int:
    return _minhash_const("A", i, 1)


def MINHASH_B(i: int) -> int:
    return _minhash_const("B", i, 0)


def exact_fingerprint(col: str | F.Column = "text") -> F.Column:
    """Content fingerprint over normalized text (md5 so external engines
    can reproduce it bit-for-bit)."""
    return F.md5(normalize_text(col))


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-content group.
    Returns (fp, keeper_doc_id, n_copies)."""
    return (
        df.select(F.col(id_col), exact_fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(f"keeper_{id_col}"), F.count("*").alias("n_copies"))
    )


def shingle_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Distinct n-word shingles as (id, _s) rows.

    Built with posexplode + lead() windows instead of per-row array HOFs:
    every operator is a set-oriented JVM expression (no Python rows) and
    cost is O(tokens) — measured ~10x faster than the transform/slice
    formulation on the same corpus (with whole-stage codegen on). The
    window partitions by document, so parallelism is document-granular
    (documents are small; no skew concern).

    ``distinct=False`` skips the (_id, _s) dedup shuffle for consumers
    whose downstream aggregate is multiplicity-invariant (min-hashing:
    min over a multiset equals min over its set) — the frame stays
    hash-partitioned by ``_id`` from the window, so a following
    ``groupBy(_id)`` reuses the exchange (guide §2.4)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias("_pos", "_w"),
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    parts = [F.col("_w")] + [F.lead("_w", i).over(w) for i in range(1, n)]
    shingled = toks.select(
        "_id", F.concat_ws(" ", *parts).alias("_s"), parts[-1].isNotNull().alias("_full")
    )
    out = shingled.where("_full").select("_id", "_s")
    return out.distinct() if distinct else out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures as (id, sig array<bigint>).

    Shape matters at scale: shingles are exploded ONCE and each of the
    ``n_hashes`` permutations is a JVM-side ``min(xxhash64(seed, s))``
    aggregate — one hash-agg pass with map-side partial mins. (The
    tempting nested higher-order-function formulation — transform over
    seeds of array_min over shingles — runs interpreted and rebuilds the
    shingle array per seed: measured ~500x slower.)
    """
    # hash the shingle string ONCE, then derive the n permutations from
    # the base value — string hashing is the dominant cost.
    # distinct=False: min() is multiplicity-invariant, so the (_id, _s)
    # dedup shuffle is pure overhead here — dropping it removes a whole
    # exchange AND lets the groupBy below reuse the shingle window's
    # hash-partitioning by _id (plan: ONE exchange end-to-end instead of
    # three; results bit-identical).
    H = _hasher(hash_fn)
    ex = shingle_table(df, id_col, text_col, shingle_n, distinct=False).select(
        "_id", H(F.col("_s")).alias("_h")
    )
    if hash_fn == "md5_48":
        # affine universal-hash permutations over Z_(2^31-1): pure 64-bit
        # integer ops (JVM expressions, and bit-identical in DuckDB — no
        # per-permutation md5). The base hash is reduced mod P once, so
        # A*(h mod P) + B < 2^62: exact in signed 64-bit on both engines.
        ex = ex.select("_id", (F.col("_h") % F.lit(MINHASH_P)).alias("_h"))
        mins = [
            F.min(
                (F.lit(MINHASH_A(i)) * F.col("_h") + F.lit(MINHASH_B(i)))
                % F.lit(MINHASH_P)
            ).alias(f"_m{i}")
            for i in range(n_hashes)
        ]
    else:
        mins = [F.min(H(F.lit(i), F.col("_h"))).alias(f"_m{i}") for i in range(n_hashes)]
    agg = ex.groupBy("_id").agg(*mins)
    return agg.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("sig"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_jaccard_est: float = 0.5,
    hash_fn: str = "xxhash64",
    skew_cap: int | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """MinHash + LSH near-duplicate candidates.

    shingle -> signature -> band hashes -> bucket self-join -> estimated
    jaccard (fraction of matching signature positions). Returns
    (id_a, id_b, jaccard_est) with id_a < id_b.

    Degenerate-band skew (``skew_cap``): a corpus with many
    near-identical documents collapses them into ONE (band_idx,
    band_hash) bucket, and the self-join's pair generation for that
    bucket lands in a single task (quadratic — 10^6 near-identical docs
    = 5*10^11 pairs in one task; AQE's skew split won't fire because it
    triggers on INPUT partition bytes, and the hot bucket's input is
    small). Setting ``skew_cap`` salts buckets above it: the b-side gets
    a deterministic salt in [0, n_salts) and the a-side replicates per
    salt, spreading the bucket's pair generation over ``n_salts`` tasks.
    The candidate pair SET is unchanged (every cross-salt pair forms
    exactly once via a._id < b._id), so results — and the DuckDB oracle
    — stay bit-identical; only task shapes change.

    Default is None (single-path plan): the salted plan adds a
    detection aggregate, signature caching and two estimate joins —
    measured ~2x on clean corpora — so enable it for adversarial
    near-duplicate-heavy inputs (or pre-collapse exact duplicates with
    ``exact_dedup`` first, which removes the identical-text mass).
    """
    rows = n_hashes // bands
    H = _hasher(hash_fn)
    sig = minhash_signatures(df, id_col, text_col, n_hashes, shingle_n, hash_fn).select(
        F.col(id_col).alias("_id"), F.col("sig").alias("_sig")
    )
    if skew_cap is None:
        # single-path plan: signatures carried inline; the self-join
        # reuses one exchange, so the shingle->signature pipeline runs
        # once
        banded = sig.select(
            "_id",
            "_sig",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_idx"),
                        H(F.concat_ws(",", F.slice("_sig", b * rows + 1, rows))).alias(
                            "band_hash"
                        ),
                    ),
                )
            ).alias("_band"),
        ).select("_id", "_sig", "_band.band_idx", "_band.band_hash")
        pairs = (
            banded.alias("a")
            .join(
                banded.alias("b"),
                on=[
                    F.col("a.band_idx") == F.col("b.band_idx"),
                    F.col("a.band_hash") == F.col("b.band_hash"),
                    F.col("a._id") < F.col("b._id"),
                ],
            )
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                F.col("a._sig").alias("sig_a"),
                F.col("b._sig").alias("sig_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        est = pairs.withColumn(
            "jaccard_est",
            F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
            / F.lit(float(n_hashes)),
        )
        return est.where(F.col("jaccard_est") >= min_jaccard_est).select(
            "id_a", "id_b", "jaccard_est"
        )

    # ---- salted plan -----------------------------------------------------
    # Signatures persist (id + n_hashes longs per doc): they feed the
    # banded frame AND the two estimate joins. The banded frame is
    # NARROW (no signature array) and also persists — it feeds hot
    # detection plus two join sides of both the cold and hot paths.
    sig = sig.persist()
    banded = (
        sig.select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_idx"),
                        H(F.concat_ws(",", F.slice("_sig", b * rows + 1, rows))).alias(
                            "band_hash"
                        ),
                    ),
                )
            ).alias("_band"),
        )
        .select("_id", "_band.band_idx", "_band.band_hash")
        .persist()
    )

    hot = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > skew_cap)
        .select("band_idx", "band_hash", F.lit(True).alias("_hot"))
    )
    marked = banded.join(F.broadcast(hot), ["band_idx", "band_hash"], "left")
    cold = marked.where(F.col("_hot").isNull()).drop("_hot")
    hotr = marked.where(F.col("_hot").isNotNull()).drop("_hot")

    def _raw_pairs(a_df: DataFrame, b_df: DataFrame, extra_on: list) -> DataFrame:
        return (
            a_df.alias("a")
            .join(
                b_df.alias("b"),
                on=[
                    F.col("a.band_idx") == F.col("b.band_idx"),
                    F.col("a.band_hash") == F.col("b.band_hash"),
                    F.col("a._id") < F.col("b._id"),
                    *extra_on,
                ],
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )

    cold_pairs = _raw_pairs(cold, cold, [])
    # salted hot path: b-side salt from the id hash; a-side replicated
    # per salt so the shuffle key (band_idx, band_hash, salt) splits the
    # bucket's pair generation across n_salts tasks
    b_salted = hotr.withColumn("_salt", _pmod_salt("_id", n_salts))
    a_repl = hotr.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    hot_pairs = _raw_pairs(
        a_repl, b_salted, [F.col("a._salt") == F.col("b._salt")]
    )
    try:
        pairs = cold_pairs.unionByName(hot_pairs).dropDuplicates(["id_a", "id_b"])
        est = (
            pairs.join(sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("sig_a")), "id_a")
            .join(sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("sig_b")), "id_b")
            .withColumn(
                "jaccard_est",
                F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
                / F.lit(float(n_hashes)),
            )
        )
        out = est.where(F.col("jaccard_est") >= min_jaccard_est).select(
            "id_a", "id_b", "jaccard_est"
        )
        # Materialize the (small, threshold-filtered) candidate set eagerly
        # so the cached signature/band frames can be released HERE instead
        # of leaking for the session (repeated salted calls were
        # accumulating executor-cached blocks). The checkpointed result is
        # bounded by the candidate pair count and is cleaned up by Spark's
        # ContextCleaner once the returned frame is unreachable.
        return out.localCheckpoint(eager=True)
    finally:
        sig.unpersist()
        banded.unpersist()


def _pmod_salt(col: str, n_salts: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_salts)).cast("int")


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: token hash bit votes aggregated in ONE
    groupBy with ``bits`` conditional-sum expressions (single shuffle,
    JVM-side; no per-row Python). Returns (id, simhash, sim_prefix16).
    ``hash_fn='md5_48'`` (use bits<=48) makes it DuckDB-verifiable."""
    tokens = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("_tok"),
    ).withColumn("_h", _hasher(hash_fn)(F.col("_tok")))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(bits)
    ]
    agg = tokens.groupBy("_id").agg(*votes)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"_b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sim = term if sim is None else sim.bitwiseOR(term)
    out = agg.select(F.col("_id").alias(id_col), sim.alias("simhash"))
    # high-16-bit prefix as a blocking key for hamming-neighbor search
    return out.withColumn("sim_prefix16", F.shiftrightunsigned("simhash", bits - 16))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
    shingle_n: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle
    (optionally restricted to a blocking column to bound the join).
    Returns (id_a, id_b, n_common, n_a, n_b, jaccard)."""
    sh = shingle_table(df, id_col, text_col, shingle_n)
    counts = sh.groupBy("_id").agg(F.count("*").alias("_n"))
    ex = sh.join(counts, "_id")
    if block_col:
        blocks = df.select(F.col(id_col).alias("_id"), F.col(block_col).alias("_blk"))
        ex = ex.join(blocks, "_id")
    join_cond = [F.col("a._s") == F.col("b._s"), F.col("a._id") < F.col("b._id")]
    if block_col:
        join_cond.append(F.col("a._blk") == F.col("b._blk"))
    common = (
        ex.alias("a")
        .join(ex.alias("b"), on=join_cond)
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(
            F.count("*").alias("n_common"),
            F.first("a._n").alias("n_a"),
            F.first("b._n").alias("n_b"),
        )
    )
    jac = common.withColumn(
        "jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    )
    return jac.where(F.col("jaccard") >= min_jaccard)
