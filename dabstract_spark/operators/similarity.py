"""Similarity search over embedding columns (SURVEY §7-M6).

- ``cosine`` / ``dot`` — pure HOF expressions (zip_with + aggregate),
  computed in float64 for engine-portable results.
- ``topk_bruteforce`` — the exactness baseline: broadcast the (small)
  query set against the corpus, window-topk per query. Scales linearly
  in corpus size; right answer for recall evaluation.
- ``lsh_hyperplane_buckets`` / ``topk_lsh`` — the scale path: sign-bit
  sketches from deterministic md5-derived hyperplanes bucket the corpus;
  candidates = same bucket (multi-probe = fewer bits). Sub-linear scan at
  the cost of recall; parameters trade the two.
- ``embedding_neardup_pairs`` — cosine near-duplicate detection via the
  same buckets.

Embeddings here are plain ``array<float>`` columns — no vector index
service, everything relational, so Catalyst handles pruning/AQE and the
operators compose with the rest of the engine.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from dabstract_spark.core import sql_bigint_array, sql_double, sql_double_array


def dot(a: Column, b: Column) -> Column:
    """Float64 dot product of two array columns (sequential fold — same
    summation order as DuckDB's list_* functions)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def norm_denom(a: Column) -> Column:
    """Cosine DENOMINATOR leg: ``||a||`` with zero mapped to 1, so a
    zero vector reads cosine 0 instead of raising DIVIDE_BY_ZERO under
    ANSI (dot is 0 whenever a norm is, so dividing by 1 is exact — the
    same convention as ``_centroid_rank_exprs``'s guard and the GEMM
    path's ``norms[norms == 0] = 1``). On real embeddings norms are
    positive and the branch never fires; the paired DuckDB oracles carry
    the identical ``CASE WHEN ... = 0 THEN 1`` legs."""
    n2 = F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(F.when(n2 == F.lit(0.0), F.lit(1.0)).otherwise(n2))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm_denom(a) * norm_denom(b))


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast-join the query set against
    the corpus (no shuffle of the corpus), rank within query partitions.
    Returns (query_id, vec_id, sim, rank).

    Norms are staged per side BEFORE the join (value-identical to
    ``cosine`` — same expressions, same op order — but each norm is
    computed once per row instead of once per (query, corpus) pair)."""
    q = queries.select(
        F.col(id_col).alias(query_id), F.col(vec_col).alias("__qvec")
    ).withColumn("__qn", norm_denom(F.col("__qvec")))
    staged = corpus.withColumn("__cn", norm_denom(F.col(vec_col)))
    joined = staged.join(F.broadcast(q), F.col(query_id) != F.col(id_col))
    scored = joined.select(
        query_id,
        id_col,
        F.round(
            dot(F.col("__qvec"), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane_signs(n_bits: int, dim: int, seed: int) -> list[list[float]]:
    """±1 hyperplane matrix from md5 parity, computed ONCE driver-side.
    sign_ij = +1 iff the first hex nibble of md5('seed:i:j') is odd —
    bit-identical to evaluating the same md5 per row (the oracle still
    does), but folded to literals so the scan does a plain multiply-add
    instead of 512 md5 calls per row."""
    return [
        [
            1.0 if int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 1 else -1.0
            for j in range(dim)
        ]
        for i in range(n_bits)
    ]


def hyperplane_bits(vec_col: str, n_bits: int = 8, dim: int = 64, seed: int = 0) -> Column:
    """Random-hyperplane sign sketch: bit_i = [ sum_j vec[j] * sign_ij > 0 ]
    with the ±1 sign matrix md5-derived (deterministic, engine-portable)
    but materialized as literal arrays at plan-build time.

    One F.expr parse of the whole unrolled expression: building the
    512-node tree Column-by-Column costs thousands of py4j round trips
    (~5 s of pure driver time per call), and the HOF form
    (zip_with+aggregate) runs interpreted per row. The ±1 signs fold
    into exact +/- and the left-associated j-ascending sum is
    bit-identical to the DuckDB oracle."""
    return F.expr(_hyperplane_bits_sql(vec_col, _hyperplane_signs(n_bits, dim, seed)))


def _hyperplane_bits_sql(col: str, signs) -> str:
    parts = []
    for i, plane in enumerate(signs):
        terms = "0.0D"
        for j, s in enumerate(plane):
            terms += (" + " if s > 0 else " - ") + f"cast(element_at({col}, {j + 1}) as double)"
        parts.append(
            f"(case when ({terms}) > 0.0D then cast({2 ** i} as bigint) else cast(0 as bigint) end)"
        )
    return " + ".join(parts)


def lsh_hyperplane_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 0,
) -> DataFrame:
    """(id, bucket): cosine-LSH bucket assignment."""
    return df.select(
        F.col(id_col), hyperplane_bits(vec_col, n_bits, dim, seed).alias("bucket")
    )


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 0,
) -> DataFrame:
    """Approximate top-k: score only corpus rows in the query's LSH
    bucket. Shuffles on the (small-cardinality) bucket key instead of
    broadcasting every query against every row. Norms staged per side
    before the join (see topk_bruteforce)."""
    cb = corpus.withColumn(
        "bucket", hyperplane_bits(vec_col, n_bits, dim, seed)
    ).withColumn("__cn", norm_denom(F.col(vec_col)))
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        hyperplane_bits(vec_col, n_bits, dim, seed).alias("bucket"),
    ).withColumn("__qn", norm_denom(F.col("__qvec")))
    joined = cb.join(qb, "bucket").filter(F.col("query_id") != F.col(id_col))
    scored = joined.select(
        "query_id",
        id_col,
        F.round(
            dot(F.col("__qvec"), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroid_rank_exprs(
    vec_sql: str,
    centroids: list[tuple[int, list[float]]],
    vec_norm_sql: str | None = None,
) -> list[tuple[int, str]]:
    """(centroid_id, cosine-sim SQL snippet) per centroid, with the
    centroid vectors folded in as literal arrays AND their norms folded
    to Python scalars (same sequential sum both engines compute) — the
    whole assignment is map-side expression work, no join, no shuffle.
    ``vec_norm_sql``: pass a staged ||vec|| column name so it is
    evaluated once rather than once per centroid.

    Returns SQL snippets, not Columns (optimization r12): K centroids ×
    dim literals built one Column op at a time cost thousands of py4j
    round trips per call; composed as ONE string and parsed with a
    single F.expr, the expression tree — and therefore every result —
    is identical."""
    import math

    vn = (
        vec_norm_sql
        if vec_norm_sql is not None
        else f"sqrt(aggregate({vec_sql}, 0.0D, (acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )
    # zero-norm guard: a zero vector (or zero centroid) must read cosine
    # 0, not raise DIVIDE_BY_ZERO under ANSI — dot is 0 whenever a norm
    # is, so dividing by 1 instead is exact (mirrors the GEMM path's
    # norms[norms == 0] = 1). On real embeddings norms are > 0 and the
    # guard branch never fires, so oracle parity is untouched.
    vn = f"(CASE WHEN {vn} = 0.0D THEN 1.0D ELSE {vn} END)"
    out = []
    for cid, cvec in centroids:
        lit_vec = sql_double_array(float(v) for v in cvec)
        acc = 0.0
        for v in cvec:
            acc += float(v) * float(v)
        dot_sql = (
            f"aggregate(zip_with({vec_sql}, {lit_vec}, "
            "(x, y) -> cast(x as double) * cast(y as double)), "
            "0.0D, (acc, v) -> acc + v)"
        )
        out.append((cid, f"({dot_sql} / ({vn} * {sql_double(math.sqrt(acc) or 1.0)}))"))
    return out


def _argmax_centroid(sims: list[tuple[int, str]]) -> Column:
    """Argmax via array_max over (sim, -cid) structs — each similarity
    expression appears exactly ONCE in the plan (a WHEN-fold would
    re-reference the running best per level and blow the expression tree
    up exponentially in the number of centroids). Struct comparison is
    lexicographic, so ties break to the LOWEST centroid id (mirrors
    ORDER BY sim DESC, cid ASC in the oracle)."""
    structs = ",".join(f"named_struct('s', {s}, 'nc', {-cid})" for cid, s in sims)
    return F.expr(f"-(array_max(array({structs})).nc)")


def ivf_centroids(
    df: DataFrame, n_centroids: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """Deterministic seed centroids: the n lowest-id vectors, collected
    driver-side (tiny). A k-means refinement can replace this seeding
    without touching assignment/probe code (each iteration = one
    groupBy(cid) average over the corpus)."""
    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(id_col) < n_centroids)
        .collect()
    )
    return sorted((int(r[0]), [float(v) for v in r[1]]) for r in rows)


def ivf_refine(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> list[tuple[int, list[float]]]:
    """Lloyd refinement of the IVF centroids: assign (map-side argmax),
    then new centroid = per-dimension mean of its members — ONE shuffle
    per iteration on the K-ary centroid key, with map-side partial
    aggregates (dim agg columns, not an explode).
    Clusters that lose all members keep their previous centroid.

    ``exact=True``: per-dim means from DECIMAL(27,10) sums divided in
    the driver — order-independent exact sums, so the refined centroids
    (and every downstream assignment against them) are bit-identical
    across engines and partitionings, which makes a fixed-iteration
    k-means RUN hash-checkable against a SQL oracle. Float avg() mode
    (default) is marginally cheaper but summation-order dependent."""
    dim = len(centroids[0][1])
    from dabstract_spark.core import loop_actions

    # loop_actions (r12): K-ary groupBy per iteration — loop-state-sized
    # reduce side. Only exact decimal mode is summation-order
    # INDEPENDENT; float avg() mode remains tolerance-level
    # nondeterministic exactly as it was under the previous session
    # conf (the partition count merely picks a different of the
    # equally-arbitrary accumulation orders)
    with loop_actions(df.sparkSession):
        for _ in range(iters):
            assigned = ivf_assign(df, centroids, id_col, vec_col)
            # one-parse struct-of-aggregates (r12 chatter cut, the
            # ivf_pq_train Lloyd pattern): was 1 + dim F.expr parses plus a
            # dim+1-column seq conversion per iteration — same sums, same
            # driver-side division, identical centroids
            if exact:
                agg_sql = (
                    "struct(count(1) AS n, "
                    + ", ".join(
                        f"sum(cast(element_at(`{vec_col}`, {j + 1}) as decimal(27,10))) AS c{j}"
                        for j in range(dim)
                    )
                    + ") AS __s"
                )
                rows = assigned.groupBy("centroid_id").agg(F.expr(agg_sql)).collect()
                new = {
                    int(r[0]): [float(r[1][1 + j]) / int(r[1][0]) for j in range(dim)]
                    for r in rows
                }
            else:
                agg_sql = (
                    "struct("
                    + ", ".join(
                        f"avg(element_at(`{vec_col}`, {j + 1})) AS c{j}" for j in range(dim)
                    )
                    + ") AS __s"
                )
                rows = assigned.groupBy("centroid_id").agg(F.expr(agg_sql)).collect()
                new = {int(r[0]): [float(r[1][j]) for j in range(dim)] for r in rows}
            centroids = sorted((cid, new.get(cid, vec)) for cid, vec in centroids)
    return centroids


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cluster assignment: argmax cosine over the (broadcast-as-
    literals) centroid set. Pure map-side — at 100 TB this is a scan
    with K fused dot products per row, no shuffle at all."""
    staged = df.withColumn("__vn", norm(F.col(vec_col)))
    sims = _centroid_rank_exprs(f"`{vec_col}`", centroids, vec_norm_sql="`__vn`")
    return staged.withColumn("centroid_id", _argmax_centroid(sims)).drop("__vn")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    clusters and exact-ranks only the corpus rows assigned there — the
    inverted-file pruning that makes ANN sub-linear. The query side is
    small and broadcast; the corpus is scanned once with its map-side
    cluster assignment."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    qsims = _centroid_rank_exprs(f"`{vec_col}`", centroids)
    # nprobe nearest centroids per query as a literal-sized sorted array
    probe_structs = (
        "array("
        + ",".join(f"named_struct('sim', {s}, 'cid', {cid})" for cid, s in qsims)
        + ")"
    )
    # sort asc (sim, cid) -> reverse = sim desc, cid desc; ties rare with real sims
    probes = F.expr(
        f"transform(slice(reverse(array_sort({probe_structs})), 1, {int(nprobe)}), p -> p.cid)"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        probes.alias("__probes"),
    ).withColumn("__qn", norm_denom(F.col("__qvec")))
    joined = assigned.withColumn("__cn", norm_denom(F.col(vec_col))).join(
        F.broadcast(q),
        F.array_contains(F.col("__probes"), F.col("centroid_id"))
        & (F.col("query_id") != F.col(id_col)),
    )
    scored = joined.select(
        "query_id",
        id_col,
        F.round(
            dot(F.col("__qvec"), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 0,
    exact: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs (id_a < id_b, sim ≥ threshold).
    ``exact=True`` compares all pairs (oracle baseline); default prunes
    to same-LSH-bucket candidates first (misses some borderline pairs —
    the standard recall/efficiency trade).

    ``max_bucket`` caps candidate generation per LSH bucket: a bucket of
    b rows yields b² compare rows, so one hot bucket (mass-duplicated
    boilerplate, zero vectors) dominates the stage at corpus scale — the
    same skew bomb jaccard_pairs caps with max_df. Rows beyond the cap
    in an over-full bucket are excluded from candidate generation
    (documented recall trade; keep-set is the deterministic md5-min
    prefix so the choice is reproducible)."""
    if exact:
        staged = df.withColumn("__n", norm_denom(F.col(vec_col)))
        a = staged.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
            F.col("__n").alias("__na"),
        )
        b = staged.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
            F.col("__n").alias("__nb"),
        )
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        # carry the vectors through the bucket join — one shuffle on the
        # bucket key, no re-join back to the corpus
        ab = df.select(
            F.col(id_col), F.col(vec_col),
            hyperplane_bits(vec_col, n_bits, dim, seed).alias("bucket"),
        )
        if max_bucket is not None:
            from pyspark.sql import Window

            from dabstract_spark.functions.hashing import md5_order

            w = Window.partitionBy("bucket").orderBy(md5_order(id_col, seed))
            ab = (
                ab.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= max_bucket)
                .drop("__rn")
            )
        ab = ab.withColumn("__n", norm_denom(F.col(vec_col)))
        l = ab.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"),
            F.col("__n").alias("__na"), "bucket",
        )
        r = ab.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"),
            F.col("__n").alias("__nb"), "bucket",
        )
        pairs = l.join(r, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def embedding_covariance(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sum_mode: str = "int",
) -> DataFrame:
    """Covariance matrix of the embedding dimensions — the whitening /
    PCA-input statistic — in the RELATIONAL formulation that scales:
    posexplode the i dimension while KEEPING the vector column, then
    posexplode the transformed vector for j — the row's full outer
    product emitted map-side with NO self-join (an earlier join-on-id
    variant shuffled the whole exploded table; this shape's only
    shuffle is the final (i, j) groupBy, ≤ dim² rows per partition
    after map-side combine). Work is rows × dim² but strictly linear
    in rows, and no driver-side matrix appears until the dim×dim
    result (which IS the output).

    Determinism across engines: float sums depend on accumulation
    order, so values are rounded to 6 decimals and summed EXACTLY —
    ``sum_mode='int'`` (default) as micro-unit int64 (value × 1e6; fast
    JVM longs, ~5× quicker than decimal; product sums overflow int64
    past ~5e5 rows for |x|≈4, where Spark's ANSI mode raises loudly),
    ``sum_mode='decimal'`` as DECIMAL(18,6) sums for corpora beyond the
    int64 bound. Both yield bit-identical cross-engine results: the
    integer sums are exact, and the final covariance is the same IEEE
    double expression on both sides.
    """
    if sum_mode not in ("int", "decimal"):
        raise ValueError(f"unknown sum_mode '{sum_mode}'")
    if sum_mode == "int":
        # through DECIMAL so the ×1e6 is exact and the bigint cast is of
        # an integral value — double→bigint cast semantics (truncate vs
        # round) differ across engines, integral-decimal→bigint does not
        enc = lambda c: (  # noqa: E731
            F.round(c.cast("double"), 6).cast("decimal(18,6)") * F.lit(1000000)
        ).cast("bigint")
    else:
        enc = lambda c: F.round(c.cast("double"), 6).cast("decimal(18,6)")  # noqa: E731
    # encode ONCE per element in its own projection below the explodes;
    # the explodes then carry the materialized bigint array, instead of
    # re-running the decimal encode per (row, i) pair
    encoded = df.select(F.transform(vec_col, enc).alias("__e"))
    e = encoded.select(F.col("__e"), F.posexplode("__e").alias("i", "xi"))
    pairs = e.select("i", "xi", F.posexplode("__e").alias("j", "xj"))
    agg = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("xi") * F.col("xj")).alias("__sxy"),
        F.sum("xi").alias("__sx"),
        F.sum("xj").alias("__sy"),
    )
    unit = 1e12 if sum_mode == "int" else 1.0
    return agg.select(
        "i",
        "j",
        (
            F.round(
                (
                    F.col("__sxy").cast("double") / F.lit(unit)
                    - (F.col("__sx").cast("double") / F.lit(1e6 if sum_mode == "int" else 1.0))
                    * (F.col("__sy").cast("double") / F.lit(1e6 if sum_mode == "int" else 1.0))
                    / F.col("__n")
                )
                / F.col("__n"),
                6,
            )
            + F.lit(0.0)
        ).alias("cov"),
    )


def topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 0,
    n_probes: int | None = None,
) -> DataFrame:
    """Multi-probe LSH top-k: each query additionally probes the buckets
    at Hamming distance 1 from its own sketch (flip one sign bit), the
    standard recall recovery for sign-LSH — a vector near a hyperplane
    lands on either side, and its true neighbors sit one flipped bit
    away. Candidates grow ×(1+n_probes) per query (explode on the SMALL
    query side only); the corpus is still scanned once and shuffled once
    on the bucket key. ``n_probes`` defaults to n_bits (all distance-1
    buckets). ``id_col`` must be unique per side (the identity contract
    every ANN op here assumes): the pair-uniqueness argument below that
    makes a dedup shuffle unnecessary — and the meaning of "top-k
    neighbors" itself — presume one row per id.
    """
    probes = n_bits if n_probes is None else min(n_probes, n_bits)
    cb = corpus.withColumn("bucket", hyperplane_bits(vec_col, n_bits, dim, seed))
    qb = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qvec"),
        hyperplane_bits(vec_col, n_bits, dim, seed).alias("__b0"),
    ).withColumn("__qn", norm_denom(F.col("__qvec")))
    # probe set = own bucket + n_probes single-bit flips (XOR with 2^b)
    qb = qb.select(
        "query_id",
        "__qvec",
        "__qn",
        F.explode(
            F.array(
                F.col("__b0"),
                *[
                    F.expr(f"__b0 ^ {1 << b}").cast("bigint")
                    for b in range(probes)
                ],
            )
        ).alias("bucket"),
    )
    joined = cb.withColumn("__cn", norm_denom(F.col(vec_col))).join(qb, "bucket").filter(
        F.col("query_id") != F.col(id_col)
    )
    # no dedup needed: a corpus vector lives in exactly ONE bucket and a
    # query's probe set {b0, b0^1, b0^2, ...} is pairwise distinct, so a
    # (query, corpus) pair can match at most one probe — the join output
    # is already unique and the dropDuplicates shuffle would be pure waste
    scored = joined.select(
        "query_id",
        id_col,
        F.round(
            dot(F.col("__qvec"), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "gemm",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space (map-side argmax over literal centroids — zero shuffle), then
    mark every vector that has a LOWER-id neighbor in the SAME cluster
    with cosine >= ``threshold`` as a semantic duplicate.

    Returns (id, centroid_id, keep) for every input row.

    Scale shape: the pair search happens WITHIN clusters only — the
    clustering is exactly what makes semantic dedup sub-quadratic
    (K clusters turn n^2 into sum of n_k^2; with balanced k-means the
    blow-up is n^2/K). Tighten further by raising K via ivf_refine — no
    code here changes.

    ``impl='gemm'`` (default): one shuffle on centroid_id into an
    Arrow-grouped stage that row-normalizes the cluster's matrix and
    runs a blocked GEMM (U_block @ U.T) — the O(n_k^2 d) work executes
    as BLAS, not as an interpreted per-pair expression (measured ~10x).
    Arrow moves each vector ONCE (n_k x d floats), never per pair; the
    row-blocking bounds the similarity buffer at BLOCK x n_k. A cluster
    must fit one task (n_k x d doubles) — at 100 TB that is the K knob,
    same constraint as any group-local kernel.
    Threshold decisions match the expression path up to float summation
    order (BLAS vs sequential fold, ~1e-13 relative); a pair would have
    to land within that of ``threshold`` exactly to flip — the same
    epsilon-margin argument the FFT/Resample oracles rest on.

    ``impl='expr'``: pure-JVM pair join with per-row norms carried onto
    it (the pair expression is dot/(na*nb), bit-identical to
    ``cosine``); sequential-fold float semantics, zero Python.
    """
    assigned = ivf_assign(df, centroids, id_col, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"), "centroid_id"
    )
    if impl == "gemm":
        out_schema = "id long, centroid_id int, keep boolean"

        def _cluster_dedup(pdf):
            import numpy as np
            import pandas as pd

            ids = pdf["id"].to_numpy()
            order = np.argsort(ids, kind="stable")
            ids = ids[order]
            m = np.array(pdf["vec"].tolist(), dtype=np.float64)[order]
            norms = np.sqrt((m * m).sum(axis=1))
            norms[norms == 0.0] = 1.0
            u = m / norms[:, None]
            n = len(ids)
            dup = np.zeros(n, dtype=bool)
            block = 1024
            for s in range(0, n, block):
                e = min(s + block, n)
                g = u[s:e] @ u.T  # (e-s, n)
                hit = g >= threshold
                # j is a duplicate iff some i < j (sorted by id) hits it
                for r in range(e - s):
                    i = s + r
                    dup[i + 1 :] |= hit[r, i + 1 :]
            return pd.DataFrame(
                {
                    "id": ids,
                    "centroid_id": np.full(n, int(pdf["centroid_id"].iloc[0]), dtype=np.int32),
                    "keep": ~dup,
                }
            )

        return (
            assigned.groupBy("centroid_id")
            .applyInPandas(_cluster_dedup, out_schema)
            .select(F.col("id").alias(id_col), "centroid_id", "keep")
        )
    if impl != "expr":
        raise ValueError(f"unknown impl '{impl}'")
    # zero-norm guard mirrors the GEMM path (norms[norms == 0] = 1):
    # dot is 0 whenever a norm is, so the pair cosine reads 0 exactly
    nraw = norm(F.col("vec"))
    staged = assigned.withColumn(
        "__n", F.when(nraw == 0.0, F.lit(1.0)).otherwise(nraw)
    )
    a, b = staged.alias("a"), staged.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(
            dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.__n") * F.col("b.__n"))
            >= threshold
        )
        .select(F.col("b.id").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        staged.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x|, each
    component mapped to floor(x * 127 / scale + 0.5) ∈ [-127, 127]
    (floor(+0.5) instead of round() — floor is IEEE-deterministic in
    every engine, round()'s half-tie rule is not). Zero vectors
    quantize to zeros.

    Returns (id, qvec array<bigint>, qnorm2 bigint): 4-8x smaller ANN
    working set, and — because every downstream product/sum is exact
    integer arithmetic — quantized scores are bit-identical across
    engines and partitionings, which float dot products are not.
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    mx = F.array_max(F.transform(x, F.abs))
    q = F.when(mx == 0.0, F.expr(f"transform({vec_col}, v -> 0L)")).otherwise(
        F.transform(x, lambda v: F.floor(v * F.lit(127.0) / mx + F.lit(0.5)))
    )
    out = df.select(F.col(id_col).alias("id"), q.alias("qvec"))
    qn = F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda acc, v: acc + v * v)
    return out.select("id", "qvec", qn.alias("qnorm2"))


def topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k over the QUANTIZED space: integer dot products of
    int8 codes, similarity = dotq / (sqrt(qn_a) * sqrt(qn_b)). The
    integer dot is exact (no float summation-order sensitivity), the
    two sqrts and one division are correctly-rounded IEEE ops on
    integers — so the score is bit-identical across engines.

    Same broadcast shape as topk_bruteforce: the (small) query side
    broadcasts, the corpus streams — no corpus shuffle. The memory
    story is the point at scale: int8 codes are 4x smaller than f32,
    so the per-executor working set (and the broadcast) shrink 4x.
    """
    qc = quantize_embeddings(corpus, id_col, vec_col)
    qq = quantize_embeddings(queries, id_col, vec_col).select(
        F.col("id").alias(query_id),
        F.col("qvec").alias("__qq"),
        F.col("qnorm2").alias("__qn"),
    )
    joined = qc.join(F.broadcast(qq), F.col(query_id) != F.col("id"))
    dotq = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("qvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = joined.select(
        query_id,
        F.col("id").alias(id_col),
        # greatest(norm2, 1): a zero int8 code vector reads qsim 0 (dotq
        # is 0 then) instead of DIVIDE_BY_ZERO under ANSI — the integer
        # twin of norm_denom's convention; oracle carries the same legs
        F.round(
            dotq.cast("double")
            / (
                F.sqrt(F.greatest(F.col("__qn"), F.lit(1)))
                * F.sqrt(F.greatest(F.col("qnorm2"), F.lit(1)))
            ),
            6,
        ).alias("qsim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("qsim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def pca_power_projection(
    df: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every vector onto the corpus's top principal component,
    with the whole run — scatter matrix, power iteration, projection —
    in EXACT integer arithmetic so a fixed-iteration result is
    bit-identical across engines and partitionings (the float version
    would drift with summation order).

    Distributed part (the only data-sized work): one scan computes the
    integer second-moment sums S2[i,j] = Σ xi·xj and S1[i] = Σ xi over
    micro-unit encoded components (round(x,6)·1e6 as int64) via a
    per-partition blocked Arrow stage: each task runs Xᵀ·X on its own
    encoded chunk as an int64 numpy matmul (the same BLAS-shaped kernel
    as ``semantic_dedup``'s per-cluster GEMM), chunked so the running
    int64 accumulation provably never overflows (rows·max|x|² ≤ 2⁶²
    per flush), and emits only its dim·(dim+1)/2 upper-triangle partial
    sums plus the S1 vector and a row count — ~dim²/2 rows per flush
    instead of rows·dim²/2 exploded rows (3 orders of magnitude fewer
    at dim 64; measured ~5× end-to-end on the former explode shape at
    sf0.1). Partials merge in ONE decimal(38,0) aggregation (the
    oracle's HUGEINT — exact in any order/partitioning). The dim×dim
    scatter matrix M = n·S2 − S1·S1ᵀ and the ``iters``-step power
    iteration are driver-side Python big-int arithmetic (dim² numbers —
    legitimately tiny), with the eigenvector re-quantized to 1e6 scale
    each step by sign-safe floor division. The projection is a map-side
    64-term integer dot product — zero shuffle, whole-stage codegen, no
    Python in the per-row output path."""
    dim_row = df.select(F.size(vec_col).alias("d")).first()
    dim = int(dim_row["d"])
    # one-parse encode (r12 chatter cut): _MICRO_SQL is the proven SQL
    # twin of round→DECIMAL(18,6)→×1e6→BIGINT — bit-identical values
    encoded = df.selectExpr(
        f"`{id_col}` AS __id", _MICRO_SQL.format(c=f"`{vec_col}`") + " AS __e"
    )

    def _partial_scatter(batches):
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        iu, ju = np.triu_indices(dim)
        state = {
            "s2": np.zeros((dim, dim), dtype=np.int64),
            "s1": np.zeros(dim, dtype=np.int64),
            "n": 0,
            "cost": 0,  # Σ rows·max|x|² accumulated since last flush
        }
        LIMIT = 1 << 62

        def frame(s2_mat, s1_vec, n_rows):
            # emit as decimal(38,0): uniform for the int64 fast path and
            # the exact Python-bigint fallback (whose partials can
            # exceed int64)
            vals = (
                [Decimal(int(s2_mat[a, b])) for a, b in zip(iu, ju)]
                + [Decimal(int(v)) for v in s1_vec]
                + [Decimal(n_rows)]
            )
            return pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(dim), [-1]]).astype("int32"),
                    "j": np.concatenate([ju, np.full(dim, -1), [-1]]).astype("int32"),
                    "v": pd.Series(vals, dtype=object),
                }
            )

        def flush():
            if state["n"] == 0:
                return None
            out = frame(state["s2"], state["s1"], state["n"])
            state["s2"] = np.zeros((dim, dim), dtype=np.int64)
            state["s1"] = np.zeros(dim, dtype=np.int64)
            state["n"] = 0
            state["cost"] = 0
            return out

        def to_matrix(cells):
            # fast path: dense int64; fallback sanitizes NULL elements to
            # 0 (the old explode path's sum-skips-null semantics — the
            # pair row still counted toward n) and rejects ragged rows
            # loudly (they were ill-defined under the explode path too)
            lst = cells.tolist()
            try:
                m = np.array(lst, dtype=np.int64)
                if m.ndim == 2 and m.shape[1] == dim:
                    return m
            except (TypeError, ValueError):
                pass
            rows = []
            for row in lst:
                vals = [0 if v is None else int(v) for v in row]
                if len(vals) != dim:
                    raise ValueError(
                        f"pca_power_projection: ragged vector of length "
                        f"{len(vals)} (expected {dim})"
                    )
                rows.append(vals)
            return np.array(rows, dtype=np.int64)

        for pdf in batches:
            if not len(pdf):
                continue
            x = to_matrix(pdf["__e"])
            per_row = max(1, int(np.abs(x).max())) ** 2
            if per_row > LIMIT:
                # a single row's own products may not fit int64: compute
                # this (pathological-magnitude) batch in exact Python
                # bigints and flush it as its own partial
                pending = flush()
                if pending is not None:
                    yield pending
                xo = x.astype(object)
                yield frame(xo.T @ xo, xo.sum(axis=0), len(xo))
                continue
            k = 0
            while k < len(x):
                room = (LIMIT - state["cost"]) // per_row
                if room < 1:
                    yield flush()
                    room = LIMIT // per_row
                c = x[k : k + room]
                state["s2"] += c.T @ c
                state["s1"] += c.sum(axis=0)
                state["n"] += len(c)
                state["cost"] += len(c) * per_row
                k += len(c)
        tail = flush()
        if tail is not None:
            yield tail

    parts = (
        encoded.filter(F.col("__e").isNotNull())
        .select("__e")
        .mapInPandas(_partial_scatter, "i int, j int, v decimal(38,0)")
    )
    merged = (
        parts.groupBy("i", "j")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    n = 0
    s1: dict[int, int] = {}
    s2: dict[tuple[int, int], int] = {}
    for r in merged:
        i, j, v = int(r["i"]), int(r["j"]), int(r["s"])
        if i == -1:
            n = v
        elif j == -1:
            s1[i] = v
        else:
            s2[(i, j)] = s2[(j, i)] = v
    m = {
        (i, j): n * s2[(i, j)] - s1[i] * s1[j]
        for i in range(dim)
        for j in range(dim)
    }

    def floordiv_abs(u: int, d: int) -> int:
        # sign-safe: divide magnitudes only, so Spark div / DuckDB // /
        # Python // rounding-direction differences can never matter
        return -((-u) // d) if u < 0 else u // d

    v = [1000000] * dim
    for _ in range(iters):
        u = [sum(m[(i, j)] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(abs(x) for x in u) or 1
        v = [floordiv_abs(x * 1000000, mx) for x in u]

    # one-parse dot product (r12 chatter cut): the Column loop cost
    # 4 round trips per nonzero term (~256 for dim 64); the SQL text is
    # the identical left-associative Add chain with the same int
    # literals (|v[j]| <= 1e6 always fits INT, like F.lit)
    dot_sql = "CAST(0 AS BIGINT)" + "".join(
        f" + {int(v[j])} * element_at(__e, {j + 1})" for j in range(dim) if v[j]
    )
    # stage the big dot expression once, then sign-safe divide it
    out = encoded.select(F.col("__id"), F.expr(dot_sql).alias("__dot"))
    return out.select(
        F.col("__id").alias(id_col),
        F.when(
            F.col("__dot") < 0, -F.expr("(-__dot) div 1000000")
        ).otherwise(F.expr("__dot div 1000000")).cast("bigint").alias("proj_micro"),
    )


def jl_signs(in_dim: int, out_dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix (out_dim ×
    in_dim) from md5 parity — a driver-side constant of a few KB that
    ships to executors as plan literals (and interpolates verbatim into
    the SQL oracle), never a shuffled table."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{seed}:{k}:{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 0,
) -> DataFrame:
    """Johnson-Lindenstrauss random-sign projection (Achlioptas 2003):
    reduce embeddings to ``out_dim`` components y_k = Σ_i s_ki·x_i with
    a deterministic ±1 sign matrix — the cheap dimensionality-reduction
    stage in front of clustering/ANN when PCA's covariance pass is
    overkill.

    Exact across engines: components become micro-unit int64 via the
    repo's round(x,6)·1e6 decimal staging, and each output is a SIGNED
    INTEGER sum per row (no float accumulation order anywhere). The
    conventional 1/√out_dim scale is omitted — a common positive factor
    changes no distance ranking or cosine, and keeping integers keeps
    the oracle bit-exact.

    Shape at 100 TB: one zip_with/aggregate HOF per output component,
    fused into the scan — zero shuffle, zero UDF, plan size
    O(out_dim), work O(rows·in_dim·out_dim). Returns exploded
    (id, k, y_ppm) rows."""
    signs = jl_signs(in_dim, out_dim, seed)
    # one F.expr parse for the whole out_dim-component array instead of
    # out_dim × in_dim F.lit round trips (r12); expression tree identical
    enc = (
        "cast(cast(round(cast(x as double), 6) as decimal(18,6)) * 1000000 as bigint)"
    )
    comps = ",".join(
        "aggregate(zip_with(`%s`, %s, (x, s) -> cast(s as bigint) * %s), "
        "cast(0 as bigint), (a, y) -> a + y)"
        % (vec_col, sql_bigint_array(signs[k]), enc)
        for k in range(out_dim)
    )
    return df.select(
        F.col(id_col), F.posexplode(F.expr(f"array({comps})")).alias("k", "y_ppm")
    ).select(id_col, F.col("k").cast("int").alias("k"), "y_ppm")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id: str = "query_id",
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: per query,
    the ``k`` MOST similar corpus items carrying a DIFFERENT label —
    the negatives that actually move an embedding model, as opposed to
    random negatives the model already separates.

    Same plan shape as :func:`topk_bruteforce` (stage norms per side,
    broadcast the query set, rank within query partitions) with the
    label-mismatch predicate pushed into the join — the filter prunes
    pairs BEFORE scoring, not after ranking, so same-label neighbors
    never occupy candidate slots. Returns
    (query_id, query_label, vec_id, label, sim, rank)."""
    q = queries.select(
        F.col(id_col).alias(query_id),
        F.col(label_col).alias("__qlab"),
        F.col(vec_col).alias("__qvec"),
    ).withColumn("__qn", norm_denom(F.col("__qvec")))
    staged = corpus.withColumn("__cn", norm_denom(F.col(vec_col)))
    joined = staged.join(
        F.broadcast(q),
        (F.col(query_id) != F.col(id_col))
        & (F.col("__qlab") != F.col(label_col)),
    )
    scored = joined.select(
        query_id,
        F.col("__qlab").alias("query_label"),
        id_col,
        label_col,
        F.round(
            dot(F.col("__qvec"), F.col(vec_col)) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kcenter_select(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point) diversity selection over an
    embedding column — the classic 2-approximation coreset picker
    ("cover the embedding space with k exemplars"), the diversity
    counterpart of similarity dedup: at each step select the point
    whose distance to the already-selected set is LARGEST.

    Deterministic and engine-exact: components quantize to ppm ints
    (round→decimal→×10⁶, the topk_quantized recipe), distances are
    exact integer squared L2 (≤ 64·(2·10⁶)² ≈ 2.6e14, well inside
    bigint), the seed is the minimum id, and argmax ties break by id.
    Returns (sel_order, id, dist_sq) — dist_sq is the point's distance
    to the set selected BEFORE it (0 for the seed).

    Scale shape (the fixed-iteration Lloyd pattern of ivf_refine): the
    per-point min-distance state stays distributed; each of the k
    rounds folds ONE literal center into the running min (64-element
    HOF vs a plan literal — no join, no shuffle) and collects exactly
    one argmax row via TakeOrdered(1). Driver traffic is k rows total;
    lineage is truncated per round with a lazy localCheckpoint, and
    each round's checkpoint blocks are RELEASED as soon as the next
    round's checkpoint has materialized from them — block-manager
    residency stays one generation deep instead of k deep.
    k·scan cost is the honest price of the sequential greedy — each
    pick depends on all previous picks (Gonzalez 1985).

    Degenerate inputs: an empty ``df`` returns an empty selection, and
    when fewer than ``k`` distinct points exist the later rounds
    re-select the minimum-id zero-distance point (every remaining
    distance is 0, argmax ties break by id) — the same fixed-k
    semantics the recursive-CTE oracle replays, kept deliberately so
    the two stay hash-identical; size the coreset with k ≤ n."""
    enc = lambda c: (  # noqa: E731
        F.round(c.cast("double"), 6).cast("decimal(18,6)") * F.lit(1000000)
    ).cast("bigint")
    pts = df.select(
        F.col(id_col).alias("__id"), F.transform(vec_col, enc).alias("__v")
    ).localCheckpoint(eager=False)

    def d2(center_vals):
        # one F.expr parse instead of dim F.lit round trips (r12)
        arr = sql_bigint_array(int(c) for c in center_vals)
        return F.expr(
            f"aggregate(zip_with(__v, {arr}, (a, b) -> (a - b) * (a - b)), "
            "cast(0 as bigint), (acc, v) -> acc + v)"
        )

    def _release(chk_df):
        # drop a materialized localCheckpoint's cached blocks: the
        # analyzed plan of a checkpointed frame is one LogicalRDD node
        # whose RDD the block manager holds at MEMORY_AND_DISK
        try:
            chk_df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass  # best-effort hygiene; never fail the selection

    spark = df.sparkSession
    id_type = dict(df.dtypes)[id_col]
    schema = f"sel_order int, {id_col} {id_type}, dist_sq bigint"
    seeds = pts.orderBy(F.asc("__id")).limit(1).collect()
    if not seeds:
        _release(pts)
        return spark.createDataFrame([], schema)
    seed = seeds[0]
    selected = [(0, seed["__id"], 0)]
    state = pts.withColumn("__mind", d2(seed["__v"]))
    prev_chk = pts
    for step in range(1, k):
        state = state.localCheckpoint(eager=False)
        top = state.orderBy(F.desc("__mind"), F.asc("__id")).limit(1).collect()[0]
        # this round's checkpoint just materialized from prev_chk's
        # blocks; nothing references the older generation anymore
        _release(prev_chk)
        prev_chk = state
        selected.append((step, top["__id"], top["__mind"]))
        if step < k - 1:
            state = state.withColumn(
                "__mind", F.least(F.col("__mind"), d2(top["__v"]))
            )
    # the returned selection is a driver-side literal table — the last
    # checkpoint generation is dead too
    _release(prev_chk)
    return spark.createDataFrame(selected, schema)


def centroid_shift(
    df_a: DataFrame,
    df_b: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding-centroid drift between two snapshots — the
    representation-monitoring card a pipeline reads after re-embedding
    a corpus (model upgrade, preprocessing change): did each label's
    mean vector MOVE (l2) or ROTATE (cosine)? One row per label present
    on BOTH sides: ``n_a``, ``n_b``, ``cosine`` of the two centroids,
    ``l2`` distance between them.

    Portability: elements are fixed-pointed to micro-units per row (the
    ``embedding_covariance`` encode — round 6 through DECIMAL so the
    ×10⁶ is exact), per-(label, dim) SUMS are exact DECIMAL(38,0)
    integers, and each centroid coordinate is the truncating integral
    division ``sum div n`` (Spark ``divideToIntegralValue`` == DuckDB
    ``//``, both toward zero for signed sums — verified). Cosine is
    scale-invariant so it reads the truncated means directly; dot/norm
    sums are exact integers with one correctly-rounded sqrt each, and
    ``l2`` = one sqrt of an exact integer, /10⁶, round 6 — every
    cross-row sum exact, bit-portable. NULL vectors are excluded (no
    magnitude); NULL labels are real labels (null-safe join). Vectors
    must share a fixed dimension by contract (the embeddings-table
    schema).

    Scale shape: each side is ONE scan → posexplode → (label, dim)
    map-side-combined sum (≤ n_labels×dim rows); the join, means, and
    the per-label rollup all run on that bounded table. No per-pair
    work, no driver collect.
    """
    a = centroid_sums(df_a, label_col, vec_col, "__sa", "__na")
    b = centroid_sums(df_b, label_col, vec_col, "__sb", "__nb")
    return centroid_shift_from_sums(a, b, label_col)


def centroid_sums(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    s: str = "__s",
    n: str = "__n",
) -> DataFrame:
    """The per-(label, dim) exact micro-unit sum half of
    ``centroid_shift`` — (label __l, dim __i, DECIMAL(38,0) sum ``s``,
    count ``n``). ADDITIVE partials (the drift_from_counts argument):
    merge-by-sum over any split of the rows equals the one-shot sums,
    which is what makes the streaming twin
    (``streaming.ops.centroid_shift_stream``) exact for any
    micro-batch boundaries."""
    dec = "DECIMAL(38,0)"
    enc = lambda c: (  # noqa: E731
        F.round(c.cast("double"), 6).cast("decimal(18,6)") * F.lit(1000000)
    ).cast("bigint")
    e = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(label_col).alias("__l"), F.transform(vec_col, enc).alias("__e")
    )
    x = e.select("__l", F.posexplode("__e").alias("__i", "__x"))
    return x.groupBy("__l", "__i").agg(
        F.expr(f"CAST(sum(__x) AS {dec})").alias(s),
        F.count(F.lit(1)).alias(n),
    )


def centroid_shift_from_sums(
    a: DataFrame, b: DataFrame, label_col: str = "label"
) -> DataFrame:
    """The join/means/rollup half of ``centroid_shift`` over two
    PRE-SUMMED (label __l, dim __i, sum, count) tables (``a`` columns
    __sa/__na, ``b`` columns __sb/__nb) — the ONE drift recipe shared
    by the batch card and the streaming monitor's merged-sink read, so
    the twins can never diverge."""
    b = (
        b
        .withColumnRenamed("__l", "__lb")
        .withColumnRenamed("__i", "__ib")
    )
    j = (
        a.join(
            b,
            a["__l"].eqNullSafe(F.col("__lb")) & (a["__i"] == F.col("__ib")),
        )
        .withColumn("__ma", F.expr("CAST(__sa div __na AS DECIMAL(38,0))"))
        .withColumn("__mb", F.expr("CAST(__sb div __nb AS DECIMAL(38,0))"))
    )
    # DECIMAL(38,0) products/sums: a per-dim mean is bounded only by the
    # coordinate magnitude (~|x|·10⁶ micro-units), so a BIGINT product
    # would silently wrap near |x| ≈ 3000 while the DuckDB oracle sums
    # in HUGEINT — the overflow would be a cross-engine divergence, not
    # an error
    return (
        j.groupBy("__l")
        .agg(
            F.max("__na").cast("bigint").alias("n_a"),
            F.max("__nb").cast("bigint").alias("n_b"),
            F.expr("sum(__ma * __mb)").alias("__dot"),
            F.expr("sum(__ma * __ma)").alias("__n2a"),
            F.expr("sum(__mb * __mb)").alias("__n2b"),
            F.expr("sum((__ma - __mb) * (__ma - __mb))").alias("__d2"),
        )
        .select(
            F.col("__l").alias(label_col),
            "n_a",
            "n_b",
            F.expr(
                "CASE WHEN __n2a = 0 OR __n2b = 0 THEN NULL"
                " ELSE round(CAST(__dot AS DOUBLE)"
                " / (sqrt(CAST(__n2a AS DOUBLE)) * sqrt(CAST(__n2b AS DOUBLE))), 6)"
                " END"
            ).alias("cosine"),
            F.expr(
                "round(sqrt(CAST(__d2 AS DOUBLE)) / 1e6, 6)"
            ).alias("l2"),
        )
    )


# --------------------------------------------------------------------- #
# IVF-PQ: product-quantized ANN (Jégou, Douze & Schmid 2011, "Product
# Quantization for Nearest Neighbor Search") — the 100 TB memory answer
# the int8 (quantize_embeddings) and JL (jl_project) paths approximate
# from other angles: a dim-D vector stores as ONE coarse cell id plus
# m sub-codes (here 8 bytes for D=64), and query scoring is ADC —
# per-(cell, subspace, code) lookup-table sums, never a full-vector
# distance against the corpus.
#
# Everything is EXACT integer arithmetic so the whole pipeline is
# value-oracled (the fixed-point codebook replay lives in the q311/q312
# oracles): coordinates become micro-unit int64 (round(x,6)·1e6 — the
# embedding encode recipe), residuals/squared-L2 stay in int64
# (|coord| ≤ ~2e6 micro ⇒ Σ_64 (Δ)² ≤ ~1e15, far inside int64), and
# Lloyd centroid updates are truncating integer means (sum div n,
# toward zero — Spark div == DuckDB // semantics, verified for negative
# operands). Seeds are the lowest-id vectors (ivf_centroids'
# convention); empty clusters keep their seed. All argmins tie-break to
# the LOWEST candidate index (first position of the min), so every step
# is deterministic under duplicate/zero vectors.
# --------------------------------------------------------------------- #
# Elementwise micro-unit encode, round(x, 6)·1e6 as BIGINT, spelled as
# SQL text for one-parse composers (r12 chatter cut):
# round→DECIMAL(18,6)→×1000000 (int literal)→BIGINT.
_MICRO_SQL = (
    "transform({c}, x -> CAST(CAST(round(CAST(x AS DOUBLE), 6)"
    " AS DECIMAL(18,6)) * 1000000 AS BIGINT))"
)


def _py_sq_l2(a: list[int], b: list[int]) -> int:
    """Exact integer squared L2 — the Python twin of _SQL2 (bigint
    arithmetic; Python ints are exact)."""
    return sum((p - q) * (p - q) for p, q in zip(a, b))


def _py_argmin_cell(coarse: list[list[int]], v: list[int]) -> int:
    """Python twin of _argmin_cell_expr: argmin cell, ties to the lowest
    cell (strict < keeps the first minimum — same as
    array_position(first occurrence of array_min))."""
    best = None
    bi = 0
    for i, cv in enumerate(coarse):
        d = _py_sq_l2(v, cv)
        if best is None or d < best:
            best, bi = d, i
    return bi


def _trunc_div(a: int, b: int) -> int:
    """Integral division truncating toward zero (Spark div / DuckDB //
    semantics) — Python's // floors, which differs on negatives."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def _arr_sql(vals) -> str:
    return "array(" + ", ".join(f"{int(v)}L" for v in vals) + ")"


def _books_sql(books: list[list[list[int]]]) -> str:
    """SQL literal for a per-subspace codebook: array[s][code] -> subvec."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(_arr_sql(cv) for cv in book) + ")"
            for book in books
        )
        + ")"
    )


_SQL2 = (
    "aggregate(zip_with({a}, {b}, (p, q) -> (p - q) * (p - q)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _pq_code_expr(books: list[list[list[int]]], x_col: str, s_col: str) -> Column:
    """Argmin code for an exploded (subspace, subvector) row against the
    literal codebook: one F.expr parse (the hyperplane-fold lesson —
    building ~1k-node trees Column-by-Column costs seconds of py4j
    time), ties to the lowest code via first-position-of-min."""
    dists = (
        f"transform(element_at({_books_sql(books)}, {s_col} + 1),"
        f" c -> {_SQL2.format(a=x_col, b='c')})"
    )
    return (F.expr(f"array_position({dists}, array_min({dists}))") - 1).cast("int")


def _argmin_cell_expr(coarse: list[list[int]], v_col: str) -> Column:
    """Argmin coarse cell for a full micro-vector against literal coarse
    centroids (map-side, no join), ties to the lowest cell."""
    lut = "array(" + ", ".join(_arr_sql(cv) for cv in coarse) + ")"
    dists = f"transform({lut}, c -> {_SQL2.format(a=v_col, b='c')})"
    return (F.expr(f"array_position({dists}, array_min({dists}))") - 1).cast("int")


def ivf_pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_coarse: int = 8,
    m: int = 8,
    pq_k: int = 16,
    iters: int = 1,
    coarse_iters: int = 1,
):
    """Train the IVF-PQ index: coarse centroids (the ``n_coarse``
    vectors with the smallest ``md5(id)``, micro-encoded, refined by
    ``coarse_iters`` integer-Lloyd steps) and per-subspace residual
    codebooks (``pq_k`` entries each, seeded from the ``pq_k``
    smallest-``md5(id)`` residuals, refined by ``iters`` integer-Lloyd
    steps). md5-order seeding (the engine's standard
    deterministic-shuffle discipline) instead of lowest-id: id order
    often correlates with insertion order/source, so lowest-id seeds
    can be clustered in embedding space — md5 order is an unbiased
    draw with the same determinism. Coarse refinement exists because
    raw seed vectors ARE the cells in IVF: one Lloyd step moves each
    seed to its cell's integer mean, balancing cell populations
    (measured on the sf0.01 eval: probe ceiling 36% → 48% at nprobe=2,
    68% → 82% at nprobe=4).

    Scale shape: each Lloyd iteration is ONE pass over the exploded
    (id, subspace, residual-subvector) frame — code assignment is a
    map-side literal-codebook expression, the update a
    groupBy(subspace, code) with map-side partial sums collecting
    m·pq_k rows to the driver (bounded by construction, the kmeans-loop
    contract). Returns (coarse, books): plain nested int lists, ready
    to fold back into scan expressions."""
    if dim % m != 0:
        raise ValueError(
            f"dim={dim} is not divisible by m={m} subspaces — the trailing "
            f"{dim % m} dimensions would be silently dropped from every "
            "code and ADC distance"
        )
    sub = dim // m
    # one-parse plan build (r12 chatter cut, guide §1.2 per-task work on
    # the DRIVER): the Column-by-Column form of this function cost ~750
    # py4j round trips per call — selectExpr/struct-agg composers below
    # build identical expression trees in ~1 parse each
    vm = df.selectExpr(
        f"`{id_col}` AS __id",
        _MICRO_SQL.format(c=f"`{vec_col}`") + " AS __vm",
        f"md5(CAST(`{id_col}` AS STRING)) AS __h",
    )
    # seeds are the n smallest-md5(id) rows PRESENT (orderBy + tiny
    # limit-collect), not `id < n`: an id space with gaps or an offset
    # (a filtered corpus through the Dataset facade) must not crash or
    # under-seed; md5-rank order (id tie-break) IS the cell/code index.
    # ONE TakeOrdered job serves BOTH seed sets (coarse cells and PQ
    # codes — r12: was two limit-collect jobs plus a data-sized
    # filter-collect for the seed residuals, now computed in Python
    # from the same rows with exact integer arithmetic).
    seed_rows = sorted(
        (str(r[2]), int(r[0]), [int(v) for v in r[1]])
        for r in vm.orderBy("__h", "__id").limit(max(n_coarse, pq_k)).collect()
    )
    if not seed_rows:
        raise ValueError("ivf_pq_train: empty corpus")
    coarse = [cv for _, _, cv in seed_rows[:n_coarse]]
    from dabstract_spark.core import loop_actions

    # loop_actions (r12): the Lloyd steps' groupBy outputs are
    # loop-state-sized (<= n_coarse / m·pq_k rows) — AQE stage-jobs and
    # session-wide reduce partitions are pure overhead per step, and
    # map-side partial aggregation already carries the data-sized half.
    # Sums are order-independent integers: identical centroids.
    with loop_actions(df.sparkSession):
        for _ in range(coarse_iters):
            # one coarse Lloyd step: map-side literal-LUT assignment, then a
            # groupBy(cell) with dim partial sums — collects <= n_coarse
            # rows of dim+2 columns to the driver (bounded by construction)
            csums = (
                vm.withColumn("__cell", _argmin_cell_expr(coarse, "__vm"))
                .groupBy("__cell")
                .agg(
                    F.expr(
                        "struct(count(1) AS n, "
                        + ", ".join(
                            f"sum(element_at(__vm, {j + 1})) AS t{j}"
                            for j in range(dim)
                        )
                        + ") AS __s"
                    )
                )
            )
            cgot = {
                int(r[0]): (int(r[1][0]), [int(r[1][1 + j]) for j in range(dim)])
                for r in csums.collect()
            }
            coarse = [
                (
                    [_trunc_div(t, cgot[c][0]) for t in cgot[c][1]]
                    if c in cgot
                    else coarse[c]  # empty cell keeps its seed
                )
                for c in range(len(coarse))
            ]
    cell_lut = "array(" + ", ".join(_arr_sql(cv) for cv in coarse) + ")"
    # residual computed ONCE per row (bind through a 1-element array —
    # a bare column reference would be inlined by CollapseProject into
    # the transform lambda and re-evaluated per subspace), then sliced
    # into the m subvectors; identical values to the slice-loop form
    res_sql = (
        f"zip_with(__vm, element_at({cell_lut}, __cell + 1), (a, b) -> a - b)"
    )
    ex = (
        vm.withColumn("__cell", _argmin_cell_expr(coarse, "__vm"))
        .selectExpr(
            "__id",
            "__cell",
            f"posexplode(element_at(transform(array({res_sql}),"
            f" r -> transform(sequence(0, {m - 1}),"
            f" s -> slice(r, s * {sub} + 1, {sub}))), 1)) AS (__s, __x)",
        )
        # 2 lineage reads (each Lloyd pass, final encode): bound the
        # recompute at one materialization
        .localCheckpoint(eager=False)
    )
    seed_ids = [i for _, i, _ in seed_rows[:pq_k]]  # md5-rank order;
    # list position IS the code index
    pq_k = len(seed_ids)  # a corpus smaller than pq_k seeds what it has
    # seed residuals in exact Python integer arithmetic (the _SQL2 twin):
    # cell assignment against the REFINED coarse, residual, m slices —
    # byte-identical to the former filter-collect over `ex`, minus a
    # data-sized job
    seeds: dict[tuple[int, int], list[int]] = {}
    for _, sid, v in seed_rows[:pq_k]:
        cell = _py_argmin_cell(coarse, v)
        r = [a - b for a, b in zip(v, coarse[cell])]
        for s in range(m):
            seeds[(s, seed_ids.index(sid))] = r[s * sub : (s + 1) * sub]
    books = [[seeds[(s, c)] for c in range(pq_k)] for s in range(m)]
    # same loop_actions rationale as the coarse loop above
    with loop_actions(df.sparkSession):
        for _ in range(iters):
            coded = ex.withColumn("__code", _pq_code_expr(books, "__x", "__s"))
            sums = coded.groupBy("__s", "__code").agg(
                F.expr(
                    "struct(count(1) AS n, "
                    + ", ".join(
                        f"sum(element_at(__x, {j + 1})) AS c{j}" for j in range(sub)
                    )
                    + ") AS __t"
                )
            )
            got = {
                (int(r[0]), int(r[1])): (
                    int(r[2][0]),
                    [int(r[2][1 + j]) for j in range(sub)],
                )
                for r in sums.collect()
            }
            books = [
                [
                    (
                        [_trunc_div(c, got[(s, k_)][0]) for c in got[(s, k_)][1]]
                        if (s, k_) in got
                        else books[s][k_]  # empty cluster keeps its centroid
                    )
                    for k_ in range(pq_k)
                ]
                for s in range(m)
            ]
    return coarse, books


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    dim: int = 64,
    n_coarse: int = 8,
    m: int = 8,
    pq_k: int = 16,
    iters: int = 1,
    coarse_iters: int = 1,
    rerank: int = 0,
):
    """IVF-PQ approximate top-k by squared L2 (ascending): encode the
    corpus as (cell, m sub-codes), probe each query's ``nprobe`` nearest
    coarse cells, and score candidates by ADC — the query's
    per-(cell, subspace, code) residual distance table (a tiny
    broadcast: |queries|·nprobe·m·pq_k rows) joined to the exploded
    corpus codes and summed per (query, candidate). The only data-sized
    shuffle is that m-row-per-candidate sum, already cut to the probed
    cells' inverted lists; at 100 TB the codes table (1 int + m bytes a
    row) is the persisted artifact and everything else is sketch-sized.

    ``rerank=0`` returns (query_id, vec_id, adist, rank) — adist in
    exact squared micro-units, rank ties to the lowest id. ``rerank=C``
    re-ranks each query's ADC top-C candidates by EXACT integer L2
    (the FAISS refine step) and returns (query_id, vec_id, rdist,
    rank): the |queries|·C candidate set is broadcast back against the
    corpus vectors, so the refine pass is one broadcast-join scan —
    bounded, never all-pairs. On near-isotropic data ADC quantization
    noise swamps the tiny distance gaps (sf0.01 eval: ADC-only
    recall@10 ~22% vs probe ceiling 82% at nprobe=4); rerank=100
    recovers 74%."""
    sub = dim // m
    coarse, books = ivf_pq_train(
        corpus, id_col, vec_col, dim, n_coarse, m, pq_k, iters, coarse_iters
    )
    cell_lut = "array(" + ", ".join(_arr_sql(cv) for cv in coarse) + ")"
    # one-parse composers throughout (r12 chatter cut — see ivf_pq_train)
    vm = corpus.selectExpr(
        f"`{id_col}`", _MICRO_SQL.format(c=f"`{vec_col}`") + " AS __vm"
    ).withColumn("__cell", _argmin_cell_expr(coarse, "__vm"))
    res_sql = (
        f"zip_with(__vm, element_at({cell_lut}, __cell + 1), (a, b) -> a - b)"
    )
    codes = vm.selectExpr(
        f"`{id_col}`",
        "__cell",
        f"posexplode(element_at(transform(array({res_sql}),"
        f" r -> transform(sequence(0, {m - 1}),"
        f" s -> slice(r, s * {sub} + 1, {sub}))), 1)) AS (__s, __x)",
    ).select(
        id_col,
        "__cell",
        "__s",
        _pq_code_expr(books, "__x", "__s").alias("__code"),
    )

    qm = queries.selectExpr(
        f"`{id_col}` AS `{query_id}`",
        _MICRO_SQL.format(c=f"`{vec_col}`") + " AS __qm",
    )
    cdists = f"transform({cell_lut}, c -> {_SQL2.format(a='__qm', b='c')})"
    probes = qm.selectExpr(
        f"`{query_id}`",
        "__qm",
        # (dist, cell) structs sorted ascending -> first nprobe;
        # struct order breaks distance ties to the lowest cell
        f"posexplode(slice(array_sort(zip_with({cdists},"
        f" sequence(0, {len(coarse) - 1}),"
        " (d, i) -> struct(d AS d, i AS cell))),"
        f" 1, {nprobe})) AS (__p, __dc)",
    ).selectExpr(f"`{query_id}`", "__qm", "__dc.cell AS __cell")
    qres_sql = (
        f"zip_with(__qm, element_at({cell_lut}, __cell + 1), (a, b) -> a - b)"
    )
    qsub = probes.selectExpr(
        f"`{query_id}`",
        "__cell",
        f"posexplode(element_at(transform(array({qres_sql}),"
        f" r -> transform(sequence(0, {m - 1}),"
        f" s -> slice(r, s * {sub} + 1, {sub}))), 1)) AS (__s, __qx)",
    )
    qd = qsub.selectExpr(
        f"`{query_id}`",
        "__cell",
        "__s",
        f"posexplode(transform(element_at({_books_sql(books)}, __s + 1),"
        f" c -> {_SQL2.format(a='__qx', b='c')})) AS (__c1, __d)",
    ).selectExpr(
        f"`{query_id}`", "__cell", "__s", "CAST(__c1 AS INT) AS __code", "__d"
    )
    scored = (
        codes.join(F.broadcast(qd), ["__cell", "__s", "__code"])
        .filter(F.col(query_id) != F.col(id_col))
        .groupBy(query_id, id_col)
        .agg(F.sum("__d").cast("bigint").alias("adist"))
    )
    ranked = scored.select(
        query_id,
        id_col,
        "adist",
        F.row_number()
        .over(
            Window.partitionBy(query_id).orderBy(F.asc("adist"), F.asc(id_col))
        )
        .alias("rank"),
    )
    if not rerank:
        return ranked.filter(F.col("rank") <= k)
    cand = ranked.filter(F.col("rank") <= rerank).select(query_id, id_col)
    corpus_vm = corpus.selectExpr(
        f"`{id_col}`", _MICRO_SQL.format(c=f"`{vec_col}`") + " AS __cvm"
    )
    exact_d = F.expr(_SQL2.format(a="__qm", b="__cvm"))
    return (
        corpus_vm.join(F.broadcast(cand), id_col)
        .join(F.broadcast(qm), query_id)
        .select(query_id, id_col, exact_d.alias("rdist"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy(
                    F.asc("rdist"), F.asc(id_col)
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )
