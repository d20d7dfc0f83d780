"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a deterministic
random-hyperplane LSH variant as the scale path (bucketed candidate
generation instead of the full cross product). Dot products are computed
with ``zip_with`` + ``aggregate`` higher-order functions — JVM-side, no
Python in the loop.

Scale: brute force is O(Q x N) — fine when the query side is small enough
to broadcast (it is broadcast explicitly). The LSH path shuffles on the
signature bucket, so cost is O(N) + O(sum of bucket^2-local pairs);
nprobe-style multi-signature probing trades recall for cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: F.Column | str, b: F.Column | str) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column | str) -> F.Column:
    col = F.col(a) if isinstance(a, str) else a
    return F.sqrt(_dot(col, col))


def cosine_similarity(a: F.Column | str, b: F.Column | str) -> F.Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return _dot(ca, cb) / (_norm(ca) * _norm(cb))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qe",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query side, score every vector,
    rank per query. Returns (qid, nid, rk, sim)."""
    scored = vectors.alias("v").join(
        F.broadcast(queries.alias("q")),
        F.col(f"v.{id_col}") != F.col(f"q.{query_id_col}"),
        "inner",
    ).select(
        F.col(f"q.{query_id_col}").alias("qid"),
        F.col(f"v.{id_col}").alias("nid"),
        cosine_similarity(F.col(f"q.{query_vec_col}"), F.col(f"v.{vec_col}")).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("qid", "nid", "rk", F.round("sim", 4).alias("sim"))
    )


def hyperplane_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int = 16,
    seed: int = 7,
    out_col: str = "_sig",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic random-hyperplane LSH signatures (SimHash for
    vectors) as (df columns..., out_col bigint).

    Plane p's d-th component is a Rademacher +-1 derived from
    ``xxhash64(seed, p, d)`` — every executor derives identical planes
    with no broadcast variable. Shape: posexplode the vector once, then
    ``n_planes`` JVM-side conditional-sum aggregates (one hash-agg pass;
    the nested-HOF formulation runs interpreted and is orders of
    magnitude slower — same lesson as minhash_signatures)."""
    from maritime_activity_reports_cdc_spark.operators.dedup import _hasher

    H = _hasher(hash_fn)
    ex = df.select(
        F.col(id_col).alias("_hid"), F.posexplode(vec_col).alias("_d", "_x")
    )
    dots = [
        F.sum(
            F.col("_x").cast("double")
            * F.when(F.pmod(H(F.lit(seed), F.lit(p), F.col("_d")), 2) == 0, 1.0).otherwise(-1.0)
        ).alias(f"_dot{p}")
        for p in range(n_planes)
    ]
    agg = ex.groupBy("_hid").agg(*dots)
    sig = None
    for p in range(n_planes):
        bit = F.when(F.col(f"_dot{p}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig * 2 + bit
    sigs = agg.select(F.col("_hid"), sig.alias(out_col))
    return df.join(sigs, on=[F.col(id_col) == F.col("_hid")]).drop("_hid")


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qe",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's hyperplane
    bucket (equi-join on the packed signature), then exact cosine rank
    within the bucket. Recall < 1 by design; the scale win is replacing
    the cross product with a hash join."""
    sig_v = hyperplane_signatures(vectors, id_col, vec_col, n_planes, hash_fn=hash_fn)
    sig_q = hyperplane_signatures(queries, query_id_col, query_vec_col, n_planes, hash_fn=hash_fn)
    cand = sig_v.alias("v").join(
        F.broadcast(sig_q.alias("q")),
        (F.col("v._sig") == F.col("q._sig"))
        & (F.col(f"v.{id_col}") != F.col(f"q.{query_id_col}")),
    ).select(
        F.col(f"q.{query_id_col}").alias("qid"),
        F.col(f"v.{id_col}").alias("nid"),
        cosine_similarity(F.col(f"q.{query_vec_col}"), F.col(f"v.{vec_col}")).alias("sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("qid", "nid", "rk", F.round("sim", 4).alias("sim"))
    )


def hyperplane_band_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int = 16,
    rows_per_band: int = 4,
    seed: int = 7,
    hash_fn: str = "xxhash64",
    probes: int = 0,
) -> DataFrame:
    """Banded hyperplane signatures as (id, band_idx, band_sig) rows —
    one row per (vector, band). Plane p = band_idx*rows_per_band + d uses
    the same deterministic Rademacher construction as
    ``hyperplane_signatures`` (identical planes on every executor, no
    broadcast). One posexplode + bands*rows_per_band conditional-sum
    aggregates, then the packed band signatures explode.

    ``probes`` > 0 (query side): per band, ALSO emit the signatures with
    the ``probes`` lowest-|margin| bits flipped (multi-probe LSH) —
    planes the vector barely cleared are where a true neighbor most
    likely landed on the other side, so probing them raises recall at a
    +probes-per-band candidate cost instead of adding whole bands. The
    tiny per-row sort runs over ``rows_per_band`` elements (HOFs are
    fine at that size)."""
    from maritime_activity_reports_cdc_spark.operators.dedup import _hasher

    H = _hasher(hash_fn)
    n_planes = bands * rows_per_band
    ex = df.select(
        F.col(id_col).alias("_hid"), F.posexplode(vec_col).alias("_d", "_x")
    )
    dots = [
        F.sum(
            F.col("_x").cast("double")
            * F.when(F.pmod(H(F.lit(seed), F.lit(p), F.col("_d")), 2) == 0, 1.0).otherwise(-1.0)
        ).alias(f"_dot{p}")
        for p in range(n_planes)
    ]
    agg = ex.groupBy("_hid").agg(*dots)
    band_variant_arrays = []
    for b in range(bands):
        sig = None
        for d in range(rows_per_band):
            p = b * rows_per_band + d
            bit = F.when(F.col(f"_dot{p}") > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            sig = bit if sig is None else sig * 2 + bit
        variants = [sig]
        if probes > 0:
            # rank the band's planes by |dot| ascending; flip the
            # lowest-margin `probes` bits (bit d sits at weight
            # 2^(rows_per_band-1-d) in the packed signature)
            margins = F.array_sort(
                F.array(
                    *[
                        F.struct(
                            F.abs(F.col(f"_dot{b * rows_per_band + d}")).alias("m"),
                            F.lit(rows_per_band - 1 - d).cast("long").alias("w"),
                        )
                        for d in range(rows_per_band)
                    ]
                )
            )
            for k in range(min(probes, rows_per_band)):
                wcol = F.element_at(margins, k + 1)["w"]
                # shiftleft needs a literal shift — enumerate the
                # rows_per_band possible weights instead
                flip = F.when(wcol == 0, F.lit(1).cast("long"))
                for wv in range(1, rows_per_band):
                    flip = flip.when(wcol == wv, F.lit(1 << wv).cast("long"))
                variants.append(sig.bitwiseXOR(flip.otherwise(F.lit(0).cast("long"))))
        # structs built directly — NOT via F.transform(lambda v, _b=b: ..):
        # PySpark treats a two-parameter lambda as (element, index) and
        # would bind _b to the array INDEX, not the band. Base and flips
        # are pairwise distinct (single-bit XORs at distinct weights).
        band_variant_arrays.append(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), v.alias("band_sig"))
                    for v in variants
                ]
            )
        )
    return agg.select(
        F.col("_hid").alias(id_col),
        F.explode(F.flatten(F.array(*band_variant_arrays))).alias("_bv"),
    ).select(id_col, "_bv.band_idx", "_bv.band_sig")


def banded_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qe",
    hash_fn: str = "xxhash64",
    probes: int = 0,
) -> DataFrame:
    """OR-amplified approximate top-k: a vector is a candidate when it
    shares ANY of ``bands`` short hyperplane signatures with the query
    (the same banding trick minhash LSH uses). Unlike the single-
    signature ``lsh_topk`` — whose recall only FALLS as n_planes grows,
    with no knob to raise it — recall here is tunable:
    P(candidate) = 1 - (1 - p^rows_per_band)^bands with p = 1 - theta/pi,
    so more bands => higher recall at a linearly larger candidate budget.

    ``probes`` adds multi-probe on the query side (flip the lowest-
    margin bits per band — see hyperplane_band_signatures): recall per
    band rises at +probes extra buckets per band, the cheaper knob when
    the vector-side index cost (bands x N signature rows) is binding.

    Shape: bucketed equi-join on (band_idx, band_sig) — never a cross
    product; candidate pairs dedup, then one exact-cosine scoring pass
    over the (small) candidate set. Returns (qid, nid, rk, sim).

    Hot-bucket note: the query side is BROADCAST (small by contract), so
    vector rows stream through map tasks in storage order — a degenerate
    (band_idx, band_sig) bucket does NOT concentrate into one task the
    way a shuffle-bucketed self-join would (per-task output is bounded
    by input-partition rows x per-band query multiplicity). Query sets
    too large to broadcast are a different operator: route them through
    the salted self-join shape of ``embedding_neardup_pairs``."""
    sig_v = hyperplane_band_signatures(
        vectors, id_col, vec_col, bands, rows_per_band, hash_fn=hash_fn
    )
    # multi-probe applies to the QUERY side only: probing a near-miss
    # signature from one side already forms the (query, vector) pair
    sig_q = hyperplane_band_signatures(
        queries, query_id_col, query_vec_col, bands, rows_per_band,
        hash_fn=hash_fn, probes=probes,
    )
    cand = (
        sig_v.alias("v")
        .join(
            F.broadcast(sig_q.alias("q")),
            (F.col("v.band_idx") == F.col("q.band_idx"))
            & (F.col("v.band_sig") == F.col("q.band_sig"))
            & (F.col(f"v.{id_col}") != F.col(f"q.{query_id_col}")),
        )
        .select(
            F.col(f"q.{query_id_col}").alias("qid"),
            F.col(f"v.{id_col}").alias("nid"),
        )
        .dropDuplicates(["qid", "nid"])
    )
    scored = (
        cand.join(
            vectors.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("_nvec")),
            "nid",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("_qvec")
                )
            ),
            "qid",
        )
        .select(
            "qid", "nid", cosine_similarity(F.col("_qvec"), F.col("_nvec")).alias("sim")
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("qid", "nid", "rk", F.round("sim", 4).alias("sim"))
    )


def _strip_seed_centroids(
    vectors: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    round_dp: int | None = None,
) -> DataFrame:
    """Deterministic seed centroids: split the id RANGE into ``k``
    equal-width strips and take each strip's minimum-id vector —
    id-layout independent, RNG-free, reproducible in any SQL engine
    (exact integer division matches DuckDB ``//``). Returns a
    ``(_cell, _cvec)`` frame with <= k rows."""
    lo, hi = vectors.agg(F.min(id_col), F.max(id_col)).collect()[0]
    if lo is None:
        raise ValueError("strip centroids: vectors frame is empty")
    span = int(hi) - int(lo) + 1
    strip = F.expr(f"(({id_col} - {int(lo)}) * {int(k)}) div {span}")
    cent_ids = vectors.groupBy(strip.alias("_cell")).agg(
        F.min(id_col).alias("_cid")
    )
    vec = F.col(vec_col)
    if round_dp is not None:
        vec = F.transform(vec_col, lambda x: F.round(x.cast("double"), round_dp))
    return vectors.join(
        F.broadcast(cent_ids), F.col(id_col) == F.col("_cid")
    ).select("_cell", vec.alias("_cvec"))


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "qid",
    query_vec_col: str = "qe",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the cell-probe
    alternative to hyperplane LSH: vectors partition into ``n_lists``
    cells by nearest centroid; a query scans only its ``n_probe``
    closest cells. Recall/cost trade via n_probe (probe all lists =
    exact).

    Centroids here are DETERMINISTIC seed samples rather than
    Lloyd-iterated k-means: the id RANGE is split into ``n_lists``
    equal-width strips and each strip's minimum id becomes a centroid —
    id-layout independent (filtered / non-contiguous id spaces still
    yield centroids; a prior modular scheme assumed dense ids from 0 and
    could silently produce zero centroids), pure column algebra, and
    reproducible in any SQL engine (the DuckDB oracle runs the identical
    quantizer). Shapes: one thin min/max agg + one tiny groupBy seed
    the centroids; assignment is a broadcast join against <= n_lists
    centroids (no shuffle of the vectors beyond the cell grouping); the
    probe is an equi-join on the cell id. Returns (qid, nid, rk, sim)."""
    cent = _strip_seed_centroids(vectors, n_lists, id_col, vec_col)
    # cell assignment: argmax cosine over the (broadcast) centroid set
    def _assign(df: DataFrame, idc: str, vc: str, out: str) -> DataFrame:
        scored = df.join(F.broadcast(cent)).withColumn(
            "_csim", cosine_similarity(F.col(vc), F.col("_cvec"))
        )
        w = Window.partitionBy(idc).orderBy(F.desc("_csim"), "_cell")
        return (
            scored.withColumn("_crk", F.row_number().over(w))
            .withColumn(out, F.col("_cell"))
            .drop("_cvec", "_csim", "_cell")
        )

    v_cells = _assign(vectors, id_col, vec_col, "_vcell").where(F.col("_crk") == 1)
    q_cells = _assign(queries, query_id_col, query_vec_col, "_qcell").where(
        F.col("_crk") <= n_probe
    )
    cand = (
        v_cells.alias("v")
        .join(
            F.broadcast(q_cells.alias("q")),
            (F.col("v._vcell") == F.col("q._qcell"))
            & (F.col(f"v.{id_col}") != F.col(f"q.{query_id_col}")),
        )
        .select(
            F.col(f"q.{query_id_col}").alias("qid"),
            F.col(f"v.{id_col}").alias("nid"),
            cosine_similarity(F.col(f"q.{query_vec_col}"), F.col(f"v.{vec_col}")).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), "nid")
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("qid", "nid", "rk", F.round("sim", 4).alias("sim"))
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    min_cosine: float = 0.95,
    bands: int = 16,
    rows_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hash_fn: str = "xxhash64",
    skew_cap: int | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the dedup strategy for
    content whose duplicates are SEMANTIC (paraphrases, re-encodes)
    rather than textual. Candidates via the banded hyperplane signatures
    (ANY band match — the same OR-amplification as minhash LSH; at the
    high-cosine regime a near-dup pair collides with probability
    ~1-(1-(1-θ/π)^r)^b ≈ 1 for θ ≈ 0), then exact cosine filters at the
    threshold. Returns (id_a, id_b, cosine) with id_a < id_b — never an
    all-pairs product.

    Hot-bucket skew (``skew_cap``): this operator exists precisely for
    corpora HEAVY with semantic duplicates — and that workload collapses
    those vectors into one (band_idx, band_sig) bucket per band, making
    the self-join's pair generation quadratic inside a single task (AQE
    can't split it: the blowup is join OUTPUT, its trigger is input
    partition bytes). Same remedy and identical pair semantics as
    ``dedup.minhash_lsh_candidates``: buckets larger than ``skew_cap``
    get a deterministic b-side salt in [0, n_salts) with the a-side
    replicated per salt, spreading each hot bucket's pair generation
    over ``n_salts`` tasks; every cross-salt pair still forms exactly
    once via id_a < id_b, so the result SET is unchanged (the oracle
    stays bit-for-bit). Opt-in for the same measured reason as minhash:
    detection + caching costs ~2x on clean corpora."""
    sig = hyperplane_band_signatures(
        vectors, id_col, vec_col, bands, rows_per_band, hash_fn=hash_fn
    ).select(F.col(id_col).alias("_id"), "band_idx", "band_sig")

    def _raw_pairs(a_df: DataFrame, b_df: DataFrame, extra_on: list) -> DataFrame:
        return (
            a_df.alias("a")
            .join(
                b_df.alias("b"),
                on=[
                    F.col("a.band_idx") == F.col("b.band_idx"),
                    F.col("a.band_sig") == F.col("b.band_sig"),
                    F.col("a._id") < F.col("b._id"),
                    *extra_on,
                ],
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        )

    vecs = vectors.select(F.col(id_col), F.col(vec_col))

    def _score(cand: DataFrame) -> DataFrame:
        scored = (
            cand.join(
                vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")),
                "id_a",
            )
            .join(
                vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")),
                "id_b",
            )
            .select(
                "id_a", "id_b",
                cosine_similarity(F.col("_va"), F.col("_vb")).alias("cosine"),
            )
        )
        return scored.where(F.col("cosine") >= min_cosine).select(
            "id_a", "id_b", F.round("cosine", 4).alias("cosine")
        )

    if skew_cap is None:
        return _score(_raw_pairs(sig, sig, []).dropDuplicates(["id_a", "id_b"]))

    # salted plan: the narrow banded frame feeds hot detection plus two
    # join sides of both paths — persist it, release after the (small,
    # threshold-filtered) result materializes (same cache discipline as
    # the minhash salted path)
    sig = sig.persist()
    try:
        hot = (
            sig.groupBy("band_idx", "band_sig")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > skew_cap)
            .select("band_idx", "band_sig", F.lit(True).alias("_hot"))
        )
        marked = sig.join(F.broadcast(hot), ["band_idx", "band_sig"], "left")
        cold = marked.where(F.col("_hot").isNull()).drop("_hot")
        hotr = marked.where(F.col("_hot").isNotNull()).drop("_hot")
        b_salted = hotr.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("_id")), F.lit(n_salts)).cast("int")
        )
        a_repl = hotr.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        pairs = (
            _raw_pairs(cold, cold, [])
            .unionByName(
                _raw_pairs(a_repl, b_salted, [F.col("a._salt") == F.col("b._salt")])
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        return _score(pairs).localCheckpoint(eager=True)
    finally:
        sig.unpersist()


def knn_classify(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "qid",
    query_vec_col: str = "qe",
    method: str = "brute",
    bands: int = 16,
    rows_per_band: int = 4,
    probes: int = 0,
    hash_fn: str = "xxhash64",
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Majority label among the top-k neighbors (ties -> smallest
    label). Returns (qid, predicted_label).

    ``method='brute'``: exact neighbors — O(Q x N), the correctness
    baseline. ``method='banded'``: neighbors from the banded-LSH
    candidate set with exact rescoring (``banded_lsh_topk``) — the
    corpus-scale path: classification cost follows the bucketed
    candidate join, recall tunes via bands/probes exactly as for ANN
    search, and at high band budgets the candidate set covers the true
    top-k so the predictions match the brute classifier (asserted in
    pytest). ``method='ivf'``: neighbors from the IVF cell-probe index
    (``ivf_topk``, strip-seeded centroids) — the alternative scale path
    (recall tunes via n_probe; n_probe >= n_lists scans every cell and
    matches brute, asserted in pytest)."""
    if method == "banded":
        topk = banded_lsh_topk(
            vectors, queries, k, bands, rows_per_band, id_col, vec_col,
            query_id_col, query_vec_col, hash_fn=hash_fn, probes=probes,
        )
    elif method == "ivf":
        topk = ivf_topk(
            vectors, queries, k, n_lists, n_probe, id_col, vec_col,
            query_id_col, query_vec_col
        )
    elif method == "brute":
        topk = brute_force_topk(
            vectors, queries, k, id_col, vec_col, query_id_col, query_vec_col
        )
    else:
        raise ValueError(f"unknown knn_classify method {method!r}")
    votes = (
        topk.join(vectors.select(F.col(id_col).alias("nid"), label_col), "nid")
        .groupBy("qid", label_col)
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), label_col)
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("qid", F.col(label_col).alias("predicted_label"))
    )


def kmeans_embeddings(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means over an embedding column — the semantic-
    clustering primitive behind cluster-based corpus curation (SemDeDup
    / cluster-balanced mixture selection): assign each vector to its
    max-cosine centroid, recompute centroids as the elementwise mean of
    their members, repeat ``n_iter`` times. Cosine's own norm division
    makes mean-update + cosine-assign exactly spherical k-means (no
    explicit renormalization step).

    Fully deterministic and engine-reproducible: seeds are the IVF
    strip-quantizer (id range split into k strips, each strip's min-id
    vector — layout independent, no RNG) and every updated centroid
    component is ROUNDED to 6 decimals so double-summation order across
    engines cannot leak into the next assignment; ties in assignment
    break by cluster id. A fixed small ``n_iter`` keeps the plan an
    unrolled chain a SQL oracle replicates literally; production
    convergence loops just raise ``n_iter``.

    Scale shape per iteration: assignment is a broadcast join against k
    centroids (no vector shuffle) + a groupBy(id) argmax; the update is
    posexplode -> partial-agg avg on (cluster, dim) keys -> k-row
    reassembly. Nothing is ever collected to the driver; centroids stay
    a k-row frame. Returns ``(id, cluster, sim)`` from the FINAL
    assignment (sim rounded to 6)."""
    if k <= 0 or n_iter <= 0:
        raise ValueError(f"k and n_iter must be positive, got k={k} n_iter={n_iter}")
    cent = _strip_seed_centroids(vectors, k, id_col, vec_col, round_dp=6)

    def _assign(c: DataFrame) -> DataFrame:
        scored = vectors.join(F.broadcast(c)).withColumn(
            "_csim", cosine_similarity(F.col(vec_col), F.col("_cvec"))
        )
        w = Window.partitionBy(id_col).orderBy(F.desc("_csim"), "_cell")
        return (
            scored.withColumn("_crk", F.row_number().over(w))
            .where(F.col("_crk") == 1)
            .select(id_col, vec_col, "_cell", "_csim")
        )

    assigned = _assign(cent)
    for _ in range(n_iter - 1):
        new_cent = (
            assigned.select("_cell", F.posexplode(vec_col).alias("_p", "_x"))
            .groupBy("_cell", "_p")
            .agg(F.round(F.avg(F.col("_x").cast("double")), 6).alias("_m"))
            .groupBy("_cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_m"))),
                    lambda s: s["_m"],
                ).alias("_cvec")
            )
        )
        assigned = _assign(new_cent)
    return assigned.select(
        id_col,
        F.col("_cell").cast("long").alias("cluster"),
        # 4 dp like every other sim output in this module: coarse enough
        # that engine-side dot/norm summation order can never show
        F.round("_csim", 4).alias("sim"),
    )
