"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline, and a sign-LSH bucketed
variant as the scale path (candidates restricted to the query's hyperplane-
sign bucket — at 10^9 vectors the bucket join replaces the full cross
product; recall is tunable via the number of sign bits).

All arithmetic is done element-wise in DOUBLE via built-in higher-order
functions (zip_with + aggregate = a fused JVM loop, no Python), scores
rounded to 6 decimals BEFORE ranking so rankings are reproducible across
engines (the DuckDB oracle replicates the same math).

The Column trees are built once per JVM (session.per_jvm) and keyed on
column names and parameters: a sign bucket or a decimal norm costs
~150-170 py4j round trips to build, a warm lookup none, and a Column is an
unresolved expression bound to no DataFrame, so every plan can reuse it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from cies_ocr_java_spark.session import per_jvm


# Exactness scheme: every element is cast double -> decimal(12,8) (one
# well-defined rounding), products/sums stay in DECIMAL (exact, order-
# independent), and only the final score returns to double. Double sums
# would drift ulps with partition order and break reproducibility; decimal
# sums are associative so map-side partial aggregation stays correct.
_ELEM_DEC = "decimal(12,8)"
# accumulator sized so decimal(30,16) + decimal(25,16) -> decimal(31,16)
# (no scale truncation under Spark's precision-38 cap), then re-cast; the
# running sum stays exact for |sum| < 10^14.
_SUM_DEC = "decimal(30,16)"


def _dec_sum(arr) -> F.Column:
    return F.aggregate(
        arr, F.lit(0).cast(_SUM_DEC), lambda acc, x: (acc + x).cast(_SUM_DEC)
    )


def _dot_dec(a, b) -> F.Column:
    return _dec_sum(
        F.zip_with(
            a,
            b,
            lambda x, y: x.cast("double").cast(_ELEM_DEC)
            * y.cast("double").cast(_ELEM_DEC),
        )
    )


def _sumsq_dec(a) -> F.Column:
    e = lambda x: x.cast("double").cast(_ELEM_DEC)  # noqa: E731
    return _dec_sum(F.transform(a, lambda x: e(x) * e(x)))


def l2_norm(a) -> F.Column:
    return (
        F.sqrt(_sumsq_dec(a).cast("double")).cast("decimal(12,6)").cast("double")
    )


@per_jvm
def _norm_col(vec_col: str) -> Column:
    """sqrt of the decimal-exact sum of squares of ``vec_col``, as double."""
    return F.sqrt(_sumsq_dec(F.col(vec_col)).cast("double"))


@per_jvm
def _bucket_col(vec_col: str, bits: int) -> Column:
    return sign_bucket(F.col(vec_col), bits)


@per_jvm
def _cosine_col(a: str, b: str, na: str, nb: str) -> Column:
    """Decimal-exact cosine of the vector columns ``a``, ``b`` over their
    hoisted norm columns ``na``, ``nb``, rounded to 6 decimals."""
    raw = _dot_dec(F.col(a), F.col(b)).cast("double") / (F.col(na) * F.col(nb))
    return raw.cast("decimal(12,6)").cast("double")


@per_jvm
def _approx_cosine_col(a: str, b: str, na: str, nb: str) -> Column:
    """All-double cosine (~100x cheaper per pair than the decimal one):
    the candidate pre-filter of the two-phase scoring."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (F.col(na) * F.col(nb))


@per_jvm
def _rank_col(part: str, score: str, tie: str) -> Column:
    """row_number per ``part`` over (``score`` desc, ``tie`` asc)."""
    w = Window.partitionBy(part).orderBy(F.col(score).desc(), F.col(tie).asc())
    return F.row_number().over(w)


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (small) query set,
    score every corpus vector, window-rank. Rank order: rounded score desc,
    neighbor id asc (deterministic under ties).

    Norms are hoisted OUT of the pair loop: computed once per vector
    (O(n*d)) before the join instead of per pair (O(n*q*d)) — same decimal
    values, so oracle equality is unaffected."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm_col(vec_col).alias("qnorm"),
    )
    e = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        _norm_col(vec_col).alias("enorm"),
    )
    scored = e.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = scored.select(
        "query_id", "neighbor_id",
        _cosine_col("vec", "qvec", "enorm", "qnorm").alias("score"),
    )
    return (
        scored.withColumn("rank", _rank_col("query_id", "score", "neighbor_id"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def sign_bucket(vec, bits: int = 4) -> F.Column:
    """Sign-LSH bucket: concat of sign bits of the first ``bits`` dims."""
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(vec, i + 1) > 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ],
    )


def cosine_near_dup_pairs(
    emb: DataFrame, threshold: float, bits: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, score >= thr).

    The scale path for semantic dedup over 10^9+ vectors: the all-pairs
    space is pruned to SAME-sign-bucket pairs (a self equi-join on the
    hyperplane-sign key — AQE splits hot buckets), then exact decimal cosine
    verifies. Norms are computed once per vector before the join, never per
    pair. Recall/cost trades via ``bits`` exactly like lsh_bucketed_topk."""
    side, pair, prefilter, out, keep = _near_dup_exprs(
        threshold, bits, id_col, vec_col)
    sides = emb.select(*side)
    return (
        sides.alias("a").join(sides.alias("b"), pair)
        .where(prefilter)
        .select(*out)
        .where(keep)
    )


@per_jvm
def _near_dup_exprs(threshold: float, bits: int, id_col: str, vec_col: str):
    """(side projection, pair condition, pre-filter, output, threshold
    filter) of cosine_near_dup_pairs, built once per JVM."""
    side = (
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _bucket_col(vec_col, bits).alias("bucket"),
        _norm_col(vec_col).alias("nrm"),
    )
    pair = (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
    # Two-phase scoring: a cheap all-double dot product prunes the candidate
    # pairs first (~100x cheaper than decimal arithmetic per pair); the
    # decimal-exact score is then computed ONLY for pairs within eps of the
    # threshold boundary. eps=1e-4 dwarfs the double-vs-decimal rounding
    # difference (~1e-7 relative), so no pair with exact score >= threshold
    # can be lost — output is bit-identical to single-phase.
    prefilter = (
        _approx_cosine_col("a.vec", "b.vec", "a.nrm", "b.nrm")
        >= threshold - 1e-4
    )
    out = (
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        _cosine_col("a.vec", "b.vec", "a.nrm", "b.nrm").alias("score"),
    )
    return side, pair, prefilter, out, F.col("score") >= threshold


def ivf_assignments(
    emb: DataFrame, centroids: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by rounded cosine
    (ties -> smallest centroid id): (id, vec, nrm, cell).

    The centroid set is broadcast (it is small by construction); the argmax
    is a row_number window over (score desc, centroid_id asc)."""
    c = centroids.select(
        F.col(id_col).alias("cell"),
        F.col(vec_col).alias("cvec"),
        _norm_col(vec_col).alias("cnorm"),
    )
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _norm_col(vec_col).alias("nrm"),
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "id", "vec", "nrm", "cell",
        _cosine_col("vec", "cvec", "nrm", "cnorm").alias("cscore"),
    )
    return (
        scored.withColumn("r", _rank_col("id", "cscore", "cell"))
        .where(F.col("r") == 1)
        .select("id", "vec", "nrm", "cell")
    )


def ivf_topk(
    emb: DataFrame, queries: DataFrame, centroids: DataFrame,
    k: int = 10, n_probe: int = 2,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: vectors are inverted-file partitioned by
    nearest centroid; each query probes its ``n_probe`` nearest cells and
    exact-ranks only those cells' vectors.

    At scale the assignment table is written bucketed by ``cell`` so probes
    are partition-pruned scans; here the probe is a broadcast semi-join.
    Deterministic (no k-means iterations): centroids are caller-supplied
    rows, so the DuckDB oracle can replay the exact same partitioning."""
    assigned = ivf_assignments(emb, centroids, id_col, vec_col)
    c = centroids.select(
        F.col(id_col).alias("cell"),
        F.col(vec_col).alias("cvec"),
        _norm_col(vec_col).alias("cnorm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm_col(vec_col).alias("qnorm"),
    )
    qscored = q.crossJoin(F.broadcast(c)).select(
        "query_id", "qvec", "qnorm", "cell",
        _cosine_col("qvec", "cvec", "qnorm", "cnorm").alias("cscore"),
    )
    probes = (
        qscored.withColumn("r", _rank_col("query_id", "cscore", "cell"))
        .where(F.col("r") <= n_probe)
        .select("query_id", "qvec", "qnorm", "cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").where(
        F.col("id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        _cosine_col("vec", "qvec", "nrm", "qnorm").alias("score"),
    )
    return (
        scored.withColumn("rank", _rank_col("query_id", "score", "neighbor_id"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def int8_quantize(vec) -> dict[str, F.Column]:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = round(x_i / scale) — the storage-compression step for embedding
    tables (4x smaller than float32; at 100 TB of embeddings the scan is
    bandwidth-bound, so int8 + per-vector scale is the difference between
    reading 25 TB and 100 TB per ANN sweep). Returns columns
    {scale, q: array<int>}. Exact cross-engine: elements quantize through
    decimal(12,8), the quotient rounds through a decimal(10,0) cast
    (HALF_UP in both engines), and an all-zero vector defines q = 0.
    |q_i| <= 127 by construction (|x_i| <= max|x| = 127*scale), so no
    clipping branch exists to diverge."""
    e = lambda x: x.cast("double").cast(_ELEM_DEC).cast("double")  # noqa: E731
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(e(x))))
    scale = absmax / F.lit(127.0)
    q = F.transform(
        vec,
        lambda x: F.when(scale == 0, F.lit(0)).otherwise(
            (e(x) / scale).cast("decimal(10,0)").cast("int")
        ),
    )
    return {
        "scale": scale.cast(_ELEM_DEC).cast("double"),
        "q": q,
    }


def centroid_update(assigned: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """One Lloyd mean step: per cell, the element-wise mean of member
    vectors -> (cell, cvec:array<double>, n_members). Exact cross-engine:
    elements quantize through decimal(12,8), the per-dimension sum is a
    DECIMAL aggregate (order-independent, map-side combinable), the mean
    divides in double and re-quantizes to decimal(12,8). A cell with no
    members keeps its previous centroid (n_members = 0) — the standard
    empty-cluster rule, mirrored by the oracle's left join."""
    terms = assigned.select("cell", F.posexplode("vec").alias("i", "x"))
    elem = F.col("x").cast("double").cast(_ELEM_DEC)
    sums = terms.groupBy("cell", "i").agg(
        F.sum(elem).alias("s"), F.count("*").alias("n")
    )
    mean = (
        (F.col("s").cast("double") / F.col("n"))
        .cast(_ELEM_DEC)
        .cast("double")
    )
    means = (
        sums.select("cell", "i", mean.alias("m"), "n")
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("mvec"),
            F.max("n").alias("n_members"),
        )
    )
    base = centroids.select(
        F.col(id_col).alias("cell"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cvec0"),
    )
    return base.join(means, "cell", "left").select(
        "cell",
        F.coalesce("mvec", "cvec0").alias("cvec"),
        F.coalesce("n_members", F.lit(0)).cast("long").alias("n_members"),
    )


def kmeans_refine(emb: DataFrame, centroids: DataFrame, iterations: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Lloyd's k-means refinement: ``iterations`` rounds of (assign every
    vector to its nearest centroid by rounded cosine, recompute centroids
    as member means) from caller-supplied deterministic seeds — the
    training step IVF partitioning needs (ivf_topk consumes the refined
    centroids unchanged).

    Scale shape per round: one broadcast cross-score + argmax window
    partitioned by vector id (no global sort), one posexplode + groupBy
    (cell, dim) with decimal partial aggregation — both shuffles keyed on
    high-cardinality columns. The iteration count is a FIXED small
    constant (training uses 2-5 rounds), so no checkpoint loop is needed:
    the lineage depth is bounded by construction, unlike the
    until-convergence connected-components loops. Returns
    (cell, cvec, n_members) after the final mean step."""
    cents = centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec")
    )
    out = None
    for _ in range(iterations):
        assigned = ivf_assignments(
            emb,
            cents.select(
                F.col("cell").alias(id_col), F.col("cvec").alias(vec_col)
            ),
            id_col,
            vec_col,
        )
        out = centroid_update(
            assigned,
            cents.select(
                F.col("cell").alias(id_col), F.col("cvec").alias(vec_col)
            ),
            id_col,
            vec_col,
        )
        cents = out.select("cell", "cvec")
    return out


def semdedup(emb: DataFrame, seeds: DataFrame, threshold: float,
             iterations: int = 1,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
    prunes the pair space by K-MEANS CLUSTER, not by hash bucket — k-means
    the embeddings (``iterations`` Lloyd rounds from deterministic seeds),
    then compare pairs ONLY within a cluster and drop every vector that
    has a same-cluster neighbor with cosine >= ``threshold`` and a smaller
    id (the deterministic keep-the-lowest-id representative rule).

    Returns (id, cell, keep) for EVERY input vector.

    Scale shape: cluster count is chosen ~sqrt(n) in the paper, bounding a
    cell to ~sqrt(n) members, so the within-cell self-join is n^1.5 total
    pair work distributed across cells — never a global all-pairs. The
    cheap all-double dot prunes candidates before the decimal-exact
    boundary score (same two-phase trick as cosine_near_dup_pairs), and
    hot cells split under AQE like any skewed equi-join."""
    cents = kmeans_refine(emb, seeds, iterations, id_col, vec_col)
    # the assignment feeds three consumers (both pair-join sides + the
    # final keep join) — persist it once or the Lloyd subtree replans 3x
    asg = ivf_assignments(
        emb,
        cents.select(
            F.col("cell").alias(id_col), F.col("cvec").alias(vec_col)
        ),
        id_col,
        vec_col,
    ).persist()
    a = asg.select(
        "cell", F.col("id").alias("id_a"),
        F.col("vec").alias("av"), F.col("nrm").alias("na"),
    )
    b = asg.select(
        "cell", F.col("id").alias("id_b"),
        F.col("vec").alias("bv"), F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, "cell").where(F.col("id_a") < F.col("id_b"))
    survivors = pairs.where(
        _approx_cosine_col("av", "bv", "na", "nb") >= threshold - 1e-4)
    dup = (
        survivors.select(
            "id_b", _cosine_col("av", "bv", "na", "nb").alias("score")
        )
        .where(F.col("score") >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        asg.join(dup, "id", "left")
        .select("id", "cell", F.col("_dup").isNull().alias("keep"))
    )


def lsh_bucketed_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10, bits: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign bucket; the
    bucket equi-join replaces the cross product at scale."""
    e_side, q_side, not_self, scored, rank, top_k, out = _lsh_topk_exprs(
        k, bits, id_col, vec_col)
    return (
        emb.select(*e_side)
        .join(F.broadcast(queries.select(*q_side)), "bucket")
        .where(not_self)
        .select(*scored)
        .withColumn("rank", rank)
        .where(top_k)
        .select(*out)
    )


@per_jvm
def _lsh_topk_exprs(k: int, bits: int, id_col: str, vec_col: str):
    """(corpus side, query side, pair filter, scored projection, rank,
    top-k filter, output) of lsh_bucketed_topk, built once per JVM."""

    def side(id_as: str, vec_as: str, norm_as: str) -> tuple[Column, ...]:
        return (
            F.col(id_col).alias(id_as),
            F.col(vec_col).alias(vec_as),
            _bucket_col(vec_col, bits).alias("bucket"),
            _norm_col(vec_col).alias(norm_as),
        )

    scored = (
        F.col("query_id"),
        F.col("neighbor_id"),
        _cosine_col("vec", "qvec", "enorm", "qnorm").alias("score"),
    )
    return (
        side("neighbor_id", "vec", "enorm"),
        side("query_id", "qvec", "qnorm"),
        F.col("neighbor_id") != F.col("query_id"),
        scored,
        _rank_col("query_id", "score", "neighbor_id"),
        F.col("rank") <= k,
        (*scored[:2], F.col("score"), F.col("rank")),
    )

def hard_negative_pairs(
    emb: DataFrame, lo: float, hi: float, k: int = 5, bits: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for EVERY vector
    (anchor), the top-k same-sign-bucket neighbors whose cosine lands in
    the [lo, hi) band — similar enough to be informative negatives, below
    the near-dup threshold that would make them false negatives (the
    standard in-batch-negatives upgrade for embedding/CLIP-style training;
    the positives above `hi` are what cosine_near_dup_pairs finds).

    Unlike lsh_bucketed_topk the anchor side is the WHOLE corpus, so this
    is a bucket self-equi-join, not a broadcast: one shuffle on the bucket
    key each side. At 10^12 vectors raise `bits` so buckets stay bounded
    (expected n/2^bits candidates per anchor) and let AQE's skew-join split
    the hot all-positive/all-negative buckets; the scoring itself reuses
    the decimal-exact dot/norm scheme, norms hoisted out of the pair loop.

    Returns (anchor_id, negative_id, score, rank) with rank over (score
    desc, negative_id asc) — deterministic under rounded-score ties."""
    e = emb.select(
        F.col(id_col).alias("negative_id"),
        F.col(vec_col).alias("vec"),
        _bucket_col(vec_col, bits).alias("bucket"),
        _norm_col(vec_col).alias("enorm"),
    )
    a = emb.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("avec"),
        _bucket_col(vec_col, bits).alias("bucket"),
        _norm_col(vec_col).alias("anorm"),
    )
    scored = (
        e.join(a, "bucket")
        .where(F.col("negative_id") != F.col("anchor_id"))
        .select(
            "anchor_id", "negative_id",
            _cosine_col("vec", "avec", "enorm", "anorm").alias("score"),
        )
        .where((F.col("score") >= lo) & (F.col("score") < hi))
    )
    return (
        scored.withColumn("rank", _rank_col("anchor_id", "score", "negative_id"))
        .where(F.col("rank") <= k)
        .select("anchor_id", "negative_id", "score", "rank")
    )

def pq_codes(
    emb: DataFrame, codebook_src: DataFrame, m: int = 8, k: int = 4,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011) — the third ANN
    index family here beside IVF (cell pruning) and sign-LSH (bucketing):
    each vector splits into ``m`` subspaces of dim/m dims, and each
    subvector is assigned its nearest codebook entry by exact decimal
    squared-L2 (ties -> smallest code id). ``codebook_src`` supplies the
    k codebook vectors per subspace (deterministic seed vectors, same
    convention as the IVF seeds — a Lloyd refinement would slot in
    exactly like embedding_kmeans).

    Scale: the codebook is m*k subvectors — broadcast; encoding is one
    equi-join on the subspace index + a per-(vector, subspace) argmin
    window. Codes compress dim floats to m small ints (here 64x4B ->
    8 codes): the memory step that makes 10^12-vector indexes fit, with
    asymmetric distance computation downstream a lookup-table sum.

    Returns (id, m, code, sq_dist)."""
    sub = dim // m

    def subspaces(df, idc, codeside):
        arr = F.array(*[
            F.struct(
                F.lit(s).alias("m"),
                F.slice(F.col(vec_col), s * sub + 1, sub).alias("sv"),
            )
            for s in range(m)
        ])
        out = df.select(F.col(idc).alias("_id"), F.explode(arr).alias("x")).select(
            "_id", F.col("x.m").alias("m"), F.col("x.sv").alias("sv")
        )
        return out

    e = subspaces(emb, id_col, False).withColumnRenamed("_id", "id")
    cb = (
        subspaces(codebook_src, id_col, True)
        .withColumnRenamed("_id", "code")
        .withColumnRenamed("sv", "cv")
    )
    diff2 = _dec_sum(
        F.zip_with(
            F.col("sv"),
            F.col("cv"),
            lambda x, y: (
                x.cast("double").cast(_ELEM_DEC) - y.cast("double").cast(_ELEM_DEC)
            )
            * (
                x.cast("double").cast(_ELEM_DEC) - y.cast("double").cast(_ELEM_DEC)
            ),
        )
    )
    # MANUAL half-up quantization in exact integer micro-units:
    # floor(d2 * 1e6 + 1/2) over the exact decimal sum — no double hop
    # (the old double+VARCHAR idiom hit a DuckDB VARCHAR->DECIMAL bug on
    # tiny scientific-notation strings: '9.27e-08' casts to 0.000001),
    # and no engine-native decimal rescale (Spark rounds half-up,
    # DuckDB half-down — they disagree at exact halves). floor over an
    # exact decimal is exact in both engines; found by the round-5 10x
    # sweep when replica clones of codebook vectors made d2 tiny.
    micro = F.floor(diff2 * F.lit(1000000) + F.lit(0.5).cast("decimal(2,1)"))
    scored = e.join(F.broadcast(cb), "m").select(
        "id", "m", "code",
        (micro.cast("double") / F.lit(1000000.0)).alias("sq_dist"),
    )
    w = Window.partitionBy("id", "m").orderBy(F.asc("sq_dist"), F.asc("code"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select("id", "m", "code", "sq_dist")
    )

def pq_adc_topk(
    emb: DataFrame, queries: DataFrame, codebook_src: DataFrame,
    m: int = 8, k: int = 4, topk: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding", dim: int = 64,
) -> DataFrame:
    """Asymmetric distance computation over PQ codes — the SEARCH half of
    product quantization: per query, an m x k lookup table of exact
    decimal subspace distances to every codebook entry; a vector's
    approximate distance is then the SUM of m table lookups selected by
    its codes, never touching the original floats. At 10^12 vectors the
    scan side reads m small ints per vector and the per-query LUT
    (m*k quantized decimals) broadcasts — the memory/bandwidth economics
    that make PQ indexes practical.

    Returns (query_id, id, adc_dist, rank) — nearest first, ties to the
    smaller vector id; the query vector itself is excluded."""
    sub = dim // m
    codes = pq_codes(emb, codebook_src, m=m, k=k,
                     id_col=id_col, vec_col=vec_col, dim=dim)

    def subspaces(df, out_id):
        arr = F.array(*[
            F.struct(
                F.lit(s).alias("m"),
                F.slice(F.col(vec_col), s * sub + 1, sub).alias("sv"),
            )
            for s in range(m)
        ])
        return df.select(F.col(id_col).alias(out_id), F.explode(arr).alias("x")) \
                 .select(out_id, F.col("x.m").alias("m"), F.col("x.sv").alias("sv"))

    q = subspaces(queries, "query_id")
    cb = subspaces(codebook_src, "code").withColumnRenamed("sv", "cv")
    diff2 = _dec_sum(
        F.zip_with(
            F.col("sv"),
            F.col("cv"),
            lambda x, y: (
                x.cast("double").cast(_ELEM_DEC) - y.cast("double").cast(_ELEM_DEC)
            )
            * (
                x.cast("double").cast(_ELEM_DEC) - y.cast("double").cast(_ELEM_DEC)
            ),
        )
    )
    # same manual half-up micro-unit quantization as pq_codes; the LUT
    # entries STAY integer micro-units so the downstream ADC sum is an
    # exact integer in both engines (a double sum would be order-
    # dependent in its last ulp)
    lut = q.join(cb, "m").select(
        "query_id", "m", "code",
        F.floor(diff2 * F.lit(1000000)
                + F.lit(0.5).cast("decimal(2,1)"))
        .cast("bigint").alias("d2u"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .where(F.col("id") != F.col("query_id"))
        .groupBy("query_id", "id")
        .agg(F.sum("d2u").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select(
            "query_id", "id",
            (F.col("adc").cast("double") / F.lit(1000000.0))
            .alias("adc_dist"),
            "rank",
        )
    )
