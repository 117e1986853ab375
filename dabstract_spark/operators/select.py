"""Built-in row selectors (reference: /root/reference/dabstract/dataset/select.py).

Selectors are name-resolvable (`Dataset.add_select("subsample_by_str", ...)`)
mirroring the reference's string-resolution of selector factories
(dataset.py:481-499), but each one is a pure DataFrame transformation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dabstract_spark.functions.hashing import md5_order, md5_unit


def random_subsample(df: DataFrame, ratio: float, seed: int = 0, key: str = "row_id") -> DataFrame:
    """Keep ceil(n*ratio) pseudo-random rows (reference select.py:7-24).

    Exact-count semantics like the reference, fully distributed: the md5
    order's rank AND the row total come from one keyless
    ``core.bucketed_rank`` over the md5 hex prefix (see its docstring),
    and rows with ``rank <= ceil(n*ratio)`` survive. No ``count()`` job,
    no global ``orderBy().limit(k)`` — a TakeOrdered over k = a constant
    fraction of the data would funnel the whole sample through one task
    at scale. Same md5 order ⇒ byte-identical rows to the sort-limit form.
    """
    from dabstract_spark.core import _string_bucket, bucketed_rank

    ranked = df.withColumn("__rk", md5_order(key, seed))
    return (
        bucketed_rank(
            ranked, [], ["__rk"], "__rank", bucket=_string_bucket("__rk"), total="__tot"
        )
        .filter(F.col("__rank") <= F.ceil(F.col("__tot") * F.lit(float(ratio))))
        .drop("__rk", "__tot", "__rank")
    )


def random_sample_n(df: DataFrame, n: int, seed: int = 0, key: str = "row_id") -> DataFrame:
    """Keep exactly min(n, count) pseudo-random rows — the fixed-budget
    form of ``random_subsample`` ("give me exactly 10k docs"),
    deterministic and seed-reproducible. Same distributed rank
    (``core.bucketed_rank``), filter rank <= n — no count() job, no
    global sort-limit TakeOrdered."""
    from dabstract_spark.core import _string_bucket, bucketed_rank

    ranked = df.withColumn("__rk", md5_order(key, seed))
    return (
        bucketed_rank(ranked, [], ["__rk"], "__rank", bucket=_string_bucket("__rk"))
        .filter(F.col("__rank") <= F.lit(int(n)))
        .drop("__rk", "__rank")
    )


def random_subsample_approx(df: DataFrame, ratio: float, seed: int = 0) -> DataFrame:
    """Scale path: Bernoulli sample, no shuffle, not exact-count."""
    return df.sample(fraction=ratio, seed=seed)


def subsample_by_str(df: DataFrame, key: str, keep) -> DataFrame:
    """Keep rows whose ``key`` value is in ``keep`` (reference select.py:27-40)."""
    keep = [keep] if isinstance(keep, str) else list(keep)
    return df.filter(F.col(key).isin(keep))


def threshold_subsample(df: DataFrame, ratio: float, seed: int = 0, key: str = "row_id") -> DataFrame:
    """Approximate deterministic sample without any count/shuffle:
    keep rows whose md5-derived uniform < ratio. Oracle-expressible."""
    return df.filter(md5_unit(key, seed) < ratio)


def two_level_keep_k(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: list,
    bucket_col,
    cap,
    rank_col: str | None = None,
) -> DataFrame:
    """THE two-level composite-bucket keep-k rank, shared by every
    grouped top-k in the engine (sample_per_group, stratified_sample,
    the KMV keep-k) so the discipline lives in ONE place: first rank
    within (group, bucket) and keep the per-bucket top ``cap`` — each
    window task holds ~1/n_buckets of one group, so a corpus-dominating
    group never lands in a single task's sort — then one tiny second
    rank over the ≤ n_buckets·cap survivors per group. A row in the
    true per-group top cap is in its bucket's top cap a fortiori, so
    the survivor set contains the answer; the result is byte-identical
    to the single-window form (``order_cols`` must be a total order).

    ``bucket_col``: any expression partitioning the order (a 256-way
    prefix of the primary sort key keeps buckets order-aligned, though
    correctness only needs determinism). ``cap``: an int or a per-row
    Column (the variable-quota case). ``rank_col``: keep the final
    per-group rank under this name instead of dropping it."""
    cap_col = F.lit(cap) if isinstance(cap, int) else cap
    b = df.withColumn("__b", bucket_col)
    w1 = Window.partitionBy(*group_cols, "__b").orderBy(*order_cols)
    pruned = (
        b.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= cap_col)
        .drop("__rn", "__b")
    )
    # bounded by construction: ≤ n_buckets·cap rows per group reach this
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    out = pruned.withColumn("__rn", F.row_number().over(w2)).filter(
        F.col("__rn") <= cap_col
    )
    if rank_col is None:
        return out.drop("__rn")
    return out.withColumnRenamed("__rn", rank_col)


def sample_per_group(
    df: DataFrame, group_key: str, n: int, seed: int = 0, key: str = "row_id"
) -> DataFrame:
    """Keep at most ``n`` pseudo-random rows per ``group_key`` value —
    balanced class sampling for training sets. Deterministic (md5-ranked
    within each group) so it is oracle-expressible. Groups smaller than
    n pass through whole. Routed through ``two_level_keep_k`` (the
    shared composite-bucket rank — no group-sized window)."""
    shuffled = df.withColumn("__shuf", md5_order(key, seed))
    return two_level_keep_k(
        shuffled,
        (group_key,),
        [F.col("__shuf"), F.col(key)],
        F.conv(F.substring("__shuf", 1, 2), 16, 10).cast("int"),
        n,
    ).drop("__shuf")


_REGISTRY = {
    "random_subsample": random_subsample,
    "random_sample_n": random_sample_n,
    "random_subsample_approx": random_subsample_approx,
    "subsample_by_str": subsample_by_str,
    "threshold_subsample": threshold_subsample,
    "sample_per_group": sample_per_group,
}


def resolve(name: str):
    if name in _REGISTRY:
        return _REGISTRY[name]
    from dabstract_spark.custom import resolve_custom

    hit = resolve_custom("selectors", name)
    if hit is not None:
        return hit
    raise KeyError(f"unknown selector '{name}'; have {sorted(_REGISTRY)}")


def apply_callable(df: DataFrame, fct, **params) -> DataFrame:
    """2-arg callable selector ``f(df, **params) -> DataFrame-or-Column``
    (reference's eval-at-construction callables, abstract.py:1198-1218)."""
    out = fct(df, **params)
    if isinstance(out, DataFrame):
        return out
    return df.filter(out)


def weighted_mix(
    sources: dict,
    rates: dict,
    key: str = "row_id",
    seed: int = 0,
    source_col: str = "source_name",
) -> DataFrame:
    """Deterministic corpus mixture: downsample each named source to its
    rate (md5-uniform Bernoulli per row, reproducible and
    oracle-expressible) and union with a source tag — how training
    pipelines reweight domains (e.g. 100% wiki, 30% web, 5% logs).

    Scale shape: pure per-source filter + unionByName — scan-fused, no
    shuffle at all; the mixture of 100 TB is a single pass. Sources must
    share a schema (use intersect projections upstream otherwise).
    """
    from dabstract_spark.functions.hashing import md5_unit

    out = None
    for name, df in sources.items():
        rate = float(rates.get(name, 1.0))
        part = df.withColumn(source_col, F.lit(name))
        if rate < 1.0:
            # salt the seed with the source name so identical keys in
            # different sources draw independent uniforms
            part = part.filter(
                md5_unit(F.concat(F.lit(name + "/"), F.col(key).cast("string")), seed) < rate
            )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("weighted_mix needs at least one source")
    return out


def token_budget_per_group(
    df: DataFrame,
    group_col: str,
    token_col,
    order_cols: list,
    budget: int,
    cum_col: str = "cum_tokens",
    order_key=None,
    nulls_last: bool = False,
    n_groups_hint: int | None = None,
) -> DataFrame:
    """Quota sampling to a per-group TOKEN budget (the corpus-curation
    step after quality ranking: "take the best docs per domain until the
    domain's token budget is spent"). Keeps rows whose inclusive
    cumulative token count in ``order_cols`` order stays <= ``budget``.

    ``order_cols`` must end in a unique tiebreaker for determinism.
    ``order_key`` is a NUMERIC column (name or Column) that is monotone
    non-decreasing along ``order_cols`` — for an ascending primary sort
    column it is that column (the default when ``order_cols[0]`` names
    one, validated numeric/date/timestamp against the schema — a
    numeric-LOOKING string column would bucket numerically while the
    window sorts it lexicographically, silently corrupting the cumsum;
    timestamps bucket by epoch micros, dates by epoch days); for a
    descending primary sort pass its negation. Only its ORDER is used
    (never its values), so any monotone surrogate works. Rows whose
    order key is NULL bucket before every non-NULL key (Spark's
    ascending NULLS FIRST); pass ``nulls_last=True`` when the primary
    sort places NULLs last (Spark's descending default), or the NULL
    rows' cumsum would be computed against the wrong prefix.

    Scale shape: the weighted ``core.bucketed_rank`` (see its docstring)
    over 256 per-group VALUE-RANGE buckets of ``order_key`` — each row's
    inclusive cumsum is its bucket's offset plus a bucket-local running
    sum, so one dominant domain in a 100 TB mixture spreads over 256
    tasks instead of serializing into one external sort. Byte-identical
    to the naive per-group window cumsum under a total order, NULL
    tokens and NULL groups included: the cumsum is NULL (row dropped)
    exactly when the row's whole inclusive prefix is NULL. Caveat: the
    buckets inherit the KEY distribution — a group whose order key is
    one constant degenerates to one bucket (ties are unorderable anyway
    without the tiebreaker). ``n_groups_hint`` (an upper bound on group
    cardinality — q130 passes one) lets the side tables broadcast
    statically; hint-less callers get plain joins AQE converts at
    runtime.
    """
    from dabstract_spark.core import bucketed_rank

    tok = (F.col(token_col) if isinstance(token_col, str) else token_col).cast(
        "bigint"
    )
    if order_key is None:
        if not (order_cols and isinstance(order_cols[0], str)):
            raise ValueError(
                "token_budget_per_group: pass order_key= (a numeric column "
                "monotone along order_cols) when order_cols[0] is not a "
                "plain ascending column name"
            )
        order_key = order_cols[0]
    key_expr = F.col(order_key) if isinstance(order_key, str) else order_key
    key_type = df.select(key_expr.alias("__k")).schema[0].dataType.simpleString()
    if key_type in ("timestamp", "timestamp_ntz"):
        # epoch micros: monotone with the timestamp sort, exact in double
        # for any realistic clock (2^53 µs ≈ year 2255)
        k = F.unix_micros(key_expr.cast("timestamp")).cast("double")
    elif key_type == "date":
        k = F.unix_date(key_expr).cast("double")
    elif key_type in (
        "tinyint", "smallint", "int", "bigint", "float", "double"
    ) or key_type.startswith("decimal"):
        k = key_expr.cast("double")
    else:
        raise ValueError(
            f"token_budget_per_group: order_key has type {key_type}; it must "
            "be numeric, date, or timestamp (a numeric-looking string would "
            "bucket numerically while the window sorts it lexicographically) "
            "— pass an explicit order_key= monotone along order_cols"
        )

    out = bucketed_rank(
        df,
        [group_col],
        order_cols,
        cum_col,
        value_range=k,
        nulls_last=nulls_last,
        weight=tok,
        n_groups_hint=n_groups_hint,
    )
    return out.filter(F.col(cum_col) <= budget)


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list, k: int
) -> DataFrame:
    """Top-k rows per group (curriculum/quality selection: "best k docs
    per domain"). ``order_cols`` must end with a unique tiebreaker so
    the result is deterministic and replayable.

    Routed through ``two_level_keep_k`` with a 256-way xxhash64 bucket
    over the row's hashable columns — it only routes rows, it never
    orders them, so the output is identical to the single-window form
    under a total order, and a dominant group (one domain owning most of
    a 100 TB corpus) never lands in a single task's sort.
    """
    def _has_map(dt) -> bool:
        # xxhash64 rejects MapType RECURSIVELY (map nested in
        # array/struct too), so the bucket columns must be map-free all
        # the way down
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    hashable = [f.name for f in df.schema.fields if not _has_map(f.dataType)]
    bucket = (
        F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(256)).cast("int")
        if hashable
        else F.lit(0)
    )
    return two_level_keep_k(df, tuple(group_cols), order_cols, bucket, k)


def importance_sample(
    df: DataFrame,
    weight_ppm,
    rate_ppm: int = 1000000,
    key: str = "row_id",
    seed: int = 0,
) -> DataFrame:
    """Weighted (importance) Bernoulli downsample: keep each row with
    probability (weight_ppm/1e6)·(rate_ppm/1e6) — quality-proportional
    corpus curation ("keep good docs more often") as one scan-fused
    filter.

    The accept test is EXACT integer arithmetic on an md5-derived
    uniform (u_ppm·1e6 < weight_ppm·rate_ppm, all bigint), so the kept
    set is deterministic, seed-reproducible, and oracle-expressible —
    no float rounding can flip a row across engines. u_ppm comes from
    the md5 prefix mod 1e6 (bias 2^32 mod 1e6 ≈ 0.03%, irrelevant for
    curation and identical on every engine). Zero shuffle.
    """
    w = F.col(weight_ppm) if isinstance(weight_ppm, str) else weight_ppm
    u_ppm = (
        F.conv(F.substring(md5_order(key, seed), 1, 8), 16, 10).cast("bigint")
        % F.lit(1000000)
    )
    return df.filter(
        u_ppm * F.lit(1000000) < w.cast("bigint") * F.lit(int(rate_ppm))
    )


_REGISTRY["importance_sample"] = importance_sample


def training_order(
    df: DataFrame, key: str, seed: int = 0, n_shards: int | None = None
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    dense position ``pos`` in a seed-reproducible pseudo-random total
    order (md5 over the key), plus an optional round-robin ``shard``
    assignment — the "globally shuffle the corpus, then write shard
    files" step in front of sequence packing / export.

    Distributed end to end: positions are ``with_row_id``'s keyless
    ``core.bucketed_rank`` over the md5 hex prefix — no global window
    or driver-side count is involved. Round-robin ``pos % n_shards``
    gives shards that are balanced to ±1 row BY CONSTRUCTION — a
    hash-mod shard (pos-free) would be only statistically balanced, and
    a range shard would put adjacent positions in one shard, defeating
    intra-shard diversity.

    ``pos``/``shard`` are ATTACHED: every input column — including a
    ``row_id`` identity column, even when it is the shuffle key —
    survives unchanged (``with_row_id`` writes its rank into ``row_id``,
    so the original is stashed around the call and restored).
    """
    from dabstract_spark.core import ROW_ID, with_row_id

    taken = {"pos"} | ({"shard"} if n_shards is not None else set())
    clash = sorted(taken & set(df.columns))
    if clash:
        raise ValueError(f"training_order would overwrite existing column(s) {clash}")
    keyed = df.withColumn("__shuf", md5_order(key, seed))
    stash = ROW_ID in keyed.columns
    k2 = key
    if stash:
        keyed = keyed.withColumnRenamed(ROW_ID, "__rid_orig")
        if key == ROW_ID:
            k2 = "__rid_orig"
    out = with_row_id(keyed, ["__shuf", k2]).withColumnRenamed(ROW_ID, "pos")
    out = out.drop("__shuf")
    if stash:
        out = out.withColumnRenamed("__rid_orig", ROW_ID)
    if n_shards is not None:
        out = out.withColumn("shard", (F.col("pos") % n_shards).cast("int"))
    return out


_REGISTRY["training_order"] = training_order


def extend_training_order(
    base: DataFrame,
    new_df: DataFrame,
    key: str,
    seed: int = 0,
    pos_col: str = "pos",
    n_shards: int | None = None,
) -> DataFrame:
    """Append-only training-order extension: position NEW rows AFTER an
    already-ordered base (positions continue from max(base.pos) + 1)
    without touching a single base row — the growing-corpus counterpart
    of ``training_order``, the same incremental discipline as the
    sketch/rollup maintenance ops (new data never forces recomputing
    the old assignment, so already-written shard files stay valid).

    The offset is a one-row broadcast aggregate; the new rows get their
    own seed-reproducible md5 order via ``training_order``. Returns the
    NEW rows only (caller unions with base), with ``shard`` recomputed
    from the offset position when requested."""
    off = base.agg(
        F.coalesce(F.max(pos_col).cast("bigint") + 1, F.lit(0)).alias("__off")
    )
    out = (
        training_order(new_df, key, seed=seed)
        .crossJoin(F.broadcast(off))
        .withColumn(pos_col, F.col("pos") + F.col("__off"))
        .drop("__off")
    )
    if pos_col != "pos":
        # the offset positions already live in pos_col; drop the raw
        # training_order column (a rename here would duplicate the name)
        out = out.drop("pos")
    if n_shards is not None:
        out = out.withColumn("shard", (F.col(pos_col) % n_shards).cast("int"))
    return out


def curriculum_order(
    df: DataFrame,
    stage: str,
    key: str,
    seed: int = 0,
    n_shards: int | None = None,
) -> DataFrame:
    """Stage-major deterministic training order (curriculum learning):
    every row of stage ``s`` gets a position before every row of stage
    ``s+1``, and WITHIN a stage the order is the same seed-reproducible
    md5 shuffle ``training_order`` uses — "high-quality data first, each
    difficulty band internally shuffled".

    ``with_row_id`` can't be used directly here: it range-buckets on the
    FIRST sort column, and a curriculum has only a handful of stages, so
    each window task would hold an entire stage. Instead the keyless
    ``core.bucketed_rank`` buckets on the COMPOSITE (stage, 256-way
    md5-hex prefix of the shuffle key): an n_stages × 256 offsets table,
    and every local window holds ~1/256 of one stage. A NULL stage
    orders first (Spark's ascending NULLS FIRST) and so does a NULL
    key's NULL md5 within its stage: the stage travels as a struct,
    whose equality matches NULL, and a NULL prefix as bucket -1, so no
    row loses its position.
    """
    from dabstract_spark.core import bucketed_rank

    taken = {"pos"} | ({"shard"} if n_shards is not None else set())
    clash = sorted(taken & set(df.columns))
    if clash:
        raise ValueError(f"curriculum_order would overwrite existing column(s) {clash}")
    keyed = df.withColumn("__shuf", md5_order(key, seed))
    prefix = F.coalesce(F.conv(F.substring("__shuf", 1, 2), 16, 10).cast("int"), F.lit(-1))
    out = (
        bucketed_rank(keyed, [], ["__shuf", key], "pos", bucket=[F.struct(stage), prefix])
        .withColumn("pos", (F.col("pos") - 1).cast("bigint"))
        .drop("__shuf")
    )
    if n_shards is not None:
        out = out.withColumn("shard", (F.col("pos") % n_shards).cast("int"))
    return out


_REGISTRY["curriculum_order"] = curriculum_order


def temperature_mixture(
    df: DataFrame,
    source: str,
    size_col: str | None = None,
    budget: int | None = None,
) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual /
    multi-corpus mixing rule of XLM-R / mBERT: draw source ``i`` with
    probability ``w_i ∝ n_i^(1/T)``, here T=2): upweights tail sources
    relative to proportional sampling without letting head sources
    drown them.

    One row per source — ``n`` (row count, or ``sum(size_col)`` e.g.
    tokens), ``weight_ppm``, and, when a token ``budget`` is given,
    ``draw`` (expected share of the budget) and ``epochs_ppm``
    (draw / n — how many times that source is repeated; >1e6 means
    upsampled). Exact across engines by construction: sqrt is the one
    power IEEE requires correctly rounded (so ``floor(sqrt(n·10¹²))``
    is bit-identical in Spark and the oracle — general ``pow`` is NOT
    and would hash-mismatch), and every division is integer. The whole
    op reduces map-side to ≤ n_sources rows; the normalizer joins back
    as a one-row broadcast."""
    n = (
        df.groupBy(source).agg(
            (
                F.sum(size_col) if size_col is not None else F.count(F.lit(1))
            ).cast("bigint").alias("n")
        )
    ).withColumn(
        "__s", F.floor(F.sqrt(F.col("n").cast("double") * F.lit(1e12))).cast("bigint")
    )
    tot = n.agg(F.sum("__s").alias("__tot"))
    out = n.crossJoin(F.broadcast(tot)).select(
        source,
        "n",
        # decimal(38,0) products so a 100 TB corpus (n ~ 1e13 rows,
        # budget ~ 1e13 tokens → s·budget ~ 1e25) can't overflow int64;
        # results are ≤ budget so the bigint output cast is safe
        F.expr(
            "CAST((CAST(__s AS DECIMAL(38,0)) * 1000000)"
            " div CAST(__tot AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("weight_ppm"),
        *(
            [
                F.expr(
                    f"CAST((CAST(__s AS DECIMAL(38,0)) * {int(budget)})"
                    " div CAST(__tot AS DECIMAL(38,0)) AS BIGINT)"
                ).alias("draw")
            ]
            if budget is not None
            else []
        ),
    )
    if budget is not None:
        out = out.withColumn(
            "epochs_ppm",
            F.expr(
                "CAST((CAST(draw AS DECIMAL(38,0)) * 1000000)"
                " div CAST(n AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
    return out


_REGISTRY["temperature_mixture"] = temperature_mixture


def materialize_mixture(
    df: DataFrame,
    source: str,
    key: str,
    budget: int,
    seed: int = 0,
) -> DataFrame:
    """Materialize the temperature mixture (the enforcement twin of
    :func:`temperature_mixture`, the audit): expand every source to
    EXACTLY its ``draw`` share of ``budget`` rows — ``draw div n`` full
    epochs of the whole source plus one extra epoch for the first
    ``draw mod n`` documents in the seeded md5 order (deterministic
    fractional top-up, the multi-epoch upsampling a mixture schedule
    actually executes). Σ_source rows ≡ Σ_source draw by construction.

    Within-source rank comes from :func:`curriculum_order`'s composite
    (source, 256-hex-prefix) bucketing minus a broadcast per-source
    offset — no data-sized window for a huge source, the same
    discipline everywhere else. Epoch expansion is a per-row
    ``sequence`` explode: output size is the mixture's, input is
    scanned once. Returns the input columns plus ``epoch``."""
    draws = temperature_mixture(df, source, budget=budget).select(
        source, "n", "draw"
    )
    per = draws.select(
        source,
        F.expr("draw div n").alias("__full"),
        F.expr("draw - (draw div n) * n").alias("__frac"),
    )
    pos = curriculum_order(df, source, key, seed=seed)
    offs = pos.groupBy(source).agg(F.min("pos").alias("__o"))
    ranked = (
        pos.join(F.broadcast(offs), source)
        .withColumn("__rn", F.col("pos") - F.col("__o") + 1)
        .drop("pos", "__o")
        .join(F.broadcast(per), source)
        .withColumn(
            "__copies",
            F.col("__full") + (F.col("__rn") <= F.col("__frac")).cast("bigint"),
        )
    )
    return (
        ranked.filter(F.col("__copies") > 0)
        .withColumn(
            "epoch",
            F.explode(F.sequence(F.lit(0), (F.col("__copies") - 1).cast("int"))),
        )
        .drop("__rn", "__full", "__frac", "__copies")
    )


_REGISTRY["materialize_mixture"] = materialize_mixture


def grouped_rank_ppm(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    max_score: int = 1_000_000,
    out_rank: str = "rank_in_group",
    out_pct: str = "pct_ppm",
    n_groups_hint: int | None = None,
) -> DataFrame:
    """EXACT per-group rank and percentile of an integer score WITHOUT a
    group-sized window — per-source quality calibration (the CCNet move:
    compare documents against their own language/domain's distribution,
    since a 600-ppm score means different things in different sources).

    Rank 1 = lowest score; ``pct_ppm = (rank-1)·10⁶ div (n_group-1)``
    (0 for the group's minimum, 10⁶ for its maximum; single-row groups
    get 0). Ties break by ``id_col`` so the rank is total and
    reproducible. A NULL group is a real group ("unknown"
    language/domain); NULL scores rank before score 0 (the oracle twin
    is ORDER BY score NULLS FIRST).

    Scale shape: ``core.bucketed_rank`` (see its docstring) with the
    group total. Scores live in [0, max_score], so 256 fixed-width VALUE
    buckets (``score div ceil(max_score/256)``; NULL lands in bucket 0)
    are ranges of the group's order. ``n_groups_hint`` (an upper bound
    on group cardinality) lets the offsets table broadcast statically;
    hint-less callers get a plain join AQE decides at runtime, whose
    exchange the bucket-local window reuses."""
    from dabstract_spark.core import bucketed_rank

    width = max(1, -(-int(max_score) // 256))  # ceil division
    bucket = F.least(
        F.lit(255), F.greatest(F.lit(0), (F.col(score_col) / width).cast("int"))
    )
    ranked = bucketed_rank(
        df,
        [group_col],
        [score_col, id_col],
        out_rank,
        bucket=bucket,
        total="__ng",
        n_groups_hint=n_groups_hint,
    )
    return ranked.withColumn(
        out_pct,
        F.expr(
            f"CAST((CAST({out_rank} - 1 AS DECIMAL(38,0)) * 1000000)"
            " div CAST(greatest(__ng - 1, 1) AS DECIMAL(38,0)) AS BIGINT)"
        ),
    ).drop("__ng")


_REGISTRY["grouped_rank_ppm"] = grouped_rank_ppm


def grouped_weighted_quantiles(
    counts: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    quantiles: list[tuple[str, int, int]],
    n_groups_hint: int | None = None,
) -> DataFrame:
    """EXACT per-group weighted quantile vector WITHOUT a group-sized
    window — the latency-dashboard / weighted-median selection form.

    ``counts`` is the pre-aggregated (group, value, weight) table — one
    row per (group, value), ``weight_col`` a non-NULL positive integer
    count, ``value_col`` numeric/decimal (the caller's groupBy did the
    data-sized work map-side). Each ``(name, num, den)`` in
    ``quantiles`` emits one output column ``name`` = the smallest value
    whose inclusive cumulative weight ``cum`` (in ascending value
    order) satisfies ``den·cum >= num·n_group`` — integer comparisons
    only, so the exact quantile is engine-identical (p50 is ``(name,
    1, 2)``; a p95 is ``(name, 95, 100)``). Returns one row per group.

    Scale shape: ``cum`` is the weighted ``core.bucketed_rank`` (see its
    docstring) over 256 per-group VALUE-RANGE buckets, with the group
    total — no window ever holds a whole group's distinct-value table,
    so the continuous-value case (distinct count ~ group rows) spreads
    one dominant group over 256 tasks (a cumsum EMITS every row: no
    WindowGroupLimit pruning saves the naive form). Its own part is
    boundary-bucket pruning of the offsets table (below), so the
    bucket-local cumsum touches ≤ k+2 buckets per group; the boundary
    pick is one per-group MIN aggregate per requested quantile.
    Byte-identical to the naive ``Window.partitionBy(group)
    .orderBy(value)`` cumsum ((group, value) rows are unique by
    contract, so the bucket-local order is total). A NULL value buckets
    before every non-NULL one (Spark's ascending NULLS FIRST) and can
    never be picked (``CASE WHEN ... THEN NULL`` loses every MIN) —
    callers needing DuckDB-oracle parity should feed non-NULL values
    (DuckDB windows order NULLS LAST).

    The side tables broadcast statically under ``core.hinted_broadcast``;
    hint-less callers get plain joins AQE converts at runtime."""
    from dabstract_spark.core import bucketed_rank

    vtype = counts.schema[value_col].dataType.simpleString()
    if not (
        vtype in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or vtype.startswith("decimal")
    ):
        raise ValueError(
            f"grouped_weighted_quantiles: value_col has type {vtype}; it "
            "must be numeric/decimal (a numeric-looking string would bucket "
            "numerically while the cumsum orders it lexicographically)"
        )

    # BOUNDARY-BUCKET PRUNING: cum is non-decreasing in value order and
    # every threshold test is monotone, so each quantile's qualifying
    # rows form a suffix whose FIRST row lives in the unique bucket
    # where the cumulative weight crosses the threshold — the only
    # bucket whose rows can win the MIN pick. Keep, per group: each
    # quantile's crossing bucket (den·(off+t) >= num·n and den·off <
    # num·n), the first bucket (guarantees every group still emits a
    # row when a threshold is unreachable, num > den), and the first
    # non-NULL-value bucket (the pick skips NULL values, so a num <= 0
    # threshold or a crossing in the NULL bucket resolves there). The
    # bucket-local cumsum then touches <= k+2 buckets per group instead
    # of the whole table — the full-data path is pure map-side-combined
    # aggregation. The windows share the offsets windows' partitioning.
    crossing_sql = " OR ".join(
        f"({int(den)} * (coalesce(__off, 0) + __cnt) >= {int(num)} * __n"
        f" AND {int(den)} * coalesce(__off, 0) < {int(num)} * __n)"
        for _, num, den in quantiles
    )
    w_grp_sql = (
        "OVER (PARTITION BY __gk ORDER BY __b0"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )

    def boundary_buckets(offsets: DataFrame) -> DataFrame:
        return offsets.selectExpr(
            "*",
            f"min(__b0) {w_grp_sql} AS __bmin",
            f"min(CASE WHEN __b0 >= 0 THEN __b0 END) {w_grp_sql} AS __bnn",
        ).filter(
            F.expr(f"({crossing_sql}) OR __b0 = __bmin OR __b0 = __bnn")
        ).drop("__bmin", "__bnn")

    v = f"`{value_col}`"
    cum = bucketed_rank(
        counts,
        [group_col],
        [value_col],
        "__cum",
        value_range=F.col(value_col),
        weight=F.col(weight_col).cast("bigint"),
        total="__n",
        prune=boundary_buckets,
        n_groups_hint=n_groups_hint,
    )
    picks = [
        F.expr(
            f"min(CASE WHEN {int(den)} * __cum >= {int(num)} * __n"
            f" THEN {v} END) AS `{name}`"
        )
        for name, num, den in quantiles
    ]
    return cum.groupBy(group_col).agg(*picks)


_REGISTRY["grouped_weighted_quantiles"] = grouped_weighted_quantiles


def grouped_order_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    ntiles: int | None = None,
    n_groups_hint: int | None = None,
) -> DataFrame:
    """Per-row rank / group size (and optional exact ntile) over an
    ARBITRARY numeric order key WITHOUT a group-sized window — the
    full-output rank family (percent_rank / cume_dist / ntile) that a
    single ``Window.partitionBy(group).orderBy(value)`` would compute
    by sorting AND streaming each whole group in one task (like a
    cumsum, every row is emitted: WindowGroupLimit prunes nothing).

    Appends ``rank_in_group`` (1-based, ordered by (``value_col``,
    ``id_col``) — ``id_col`` must be unique within its group, making
    the order total, so rank == row_number == RANK and the SQL rank
    family derives arithmetically: percent_rank = (rank-1)/(n-1),
    cume_dist = rank/n), ``n_group``, and ``ntile_in_group`` when
    ``ntiles`` is set (the exact SQL NTILE allotment: the first
    n mod k tiles take ceil(n/k) rows).

    Scale shape: ``core.bucketed_rank`` (see its docstring) over 256
    per-group VALUE-RANGE buckets, with the group total. Unlike
    ``grouped_rank_ppm`` (fixed-width buckets over a declared
    [0, max_score]) the key may be any numeric/decimal column with
    unknown range or sign. NULL values bucket first (Spark ascending
    NULLS FIRST — same as the naive window's order)."""
    from dabstract_spark.core import bucketed_rank

    vtype = df.schema[value_col].dataType.simpleString()
    if not (
        vtype in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or vtype.startswith("decimal")
    ):
        raise ValueError(
            f"grouped_order_stats: value_col has type {vtype}; it must be "
            "numeric/decimal (bucket assignment must be monotone in the "
            "window order)"
        )
    out = (
        bucketed_rank(
            df,
            [group_col],
            [value_col, id_col],
            "rank_in_group",
            value_range=F.col(value_col),
            total="__ng",
            n_groups_hint=n_groups_hint,
        )
        .withColumn("n_group", F.col("__ng").cast("bigint"))
        .drop("__ng")
    )
    if ntiles is not None:
        k = int(ntiles)
        if k < 1:
            raise ValueError("grouped_order_stats: ntiles must be >= 1")
        # exact SQL NTILE from (rank, n): q = n div k, r = n mod k; the
        # first r tiles hold q+1 rows. Pure integer div — no float
        # truncation can flip a tile boundary. q = 0 (n < k) keeps every
        # rank inside the head branch (head = r = n), so the greatest()
        # guard in the else leg is unreachable belt-and-braces.
        out = out.withColumn(
            "ntile_in_group",
            F.expr(
                f"CAST(CASE WHEN rank_in_group <="
                f" (n_group % {k}) * (n_group div {k} + 1)"
                f" THEN (rank_in_group - 1) div (n_group div {k} + 1) + 1"
                f" ELSE (n_group % {k}) + (rank_in_group"
                f" - (n_group % {k}) * (n_group div {k} + 1) - 1)"
                f" div greatest(n_group div {k}, 1) + 1"
                f" END AS INT)"
            ),
        )
    return out


_REGISTRY["grouped_order_stats"] = grouped_order_stats


#: Poisson(1) CDF in exact ppm — P(X <= k) for k = 0..7; weights beyond 8
#: are astronomically rare and truncated (P ~ 1e-6 covered by the last
#: threshold). Literals so Spark and the SQL oracle share one table.
POISSON1_CDF_PPM = (367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989)


def bootstrap_partials(
    df: DataFrame,
    key: str,
    value_col: str,
    n_boot: int = 32,
    seed: int = 0,
) -> DataFrame:
    """MERGEABLE partial sums (b, n_eff=Σw, s=Σw·v) of the distributed
    Poisson bootstrap of mean(``value_col``) — error bars
    for corpus metrics at scale: per replicate ``b``, every row draws an
    independent Poisson(1) weight (the standard streaming/distributed
    approximation of multinomial resampling — no global count, no
    sequential draws), and the replicate's weighted mean is one
    bootstrap sample of the statistic; the spread across replicates IS
    the sampling error.

    Exact and engine-portable: the Poisson draw is an inverse-CDF walk
    over ppm-integer thresholds (weight = #thresholds <= an md5-derived
    uniform ppm, deterministic per (seed, b, key)), and the mean is
    integer ``Σw·v div Σw`` (``value_col`` must be integer-valued, e.g.
    a ppm score). Plan: one explode by n_boot (output-sized), one
    map-side-combinable groupBy(b) — Σ-shaped at any corpus size.
    Returns (b, n_eff, mean_ppm)."""
    reps = df.select(
        F.col(key).cast("string").alias("__k"),
        F.col(value_col).cast("bigint").alias("__v"),
        F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.lit(str(seed)), F.col("b").cast("string"), F.col("__k"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    w = sum(
        (u >= F.lit(t)).cast("bigint") for t in POISSON1_CDF_PPM
    )
    return (
        reps.withColumn("__w", w)
        .groupBy("b")
        .agg(
            F.sum("__w").alias("n_eff"),
            F.sum(F.expr("__w * __v")).alias("s"),
        )
    )


def bootstrap_means(
    df: DataFrame,
    key: str,
    value_col: str,
    n_boot: int = 32,
    seed: int = 0,
) -> DataFrame:
    """Replicate means from :func:`bootstrap_partials` — the batch
    surface; the streaming maintainer merges the same partials by sum
    before this identical div (one staging recipe, no drift)."""
    return bootstrap_partials(df, key, value_col, n_boot=n_boot, seed=seed).select(
        "b",
        "n_eff",
        F.expr("CAST(s div greatest(n_eff, 1) AS BIGINT)").alias("mean_ppm"),
    )


_REGISTRY["bootstrap_means"] = bootstrap_means


def grouped_mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 3,
    n_groups_hint: int | None = None,
) -> DataFrame:
    """Per-group ROBUST outlier card via median / MAD — the screen a
    curation run points at a numeric quality signal (doc length, token
    count, score) where mean/stddev are exactly what the outliers
    corrupt: one row per group with ``n_rows``, ``median``, ``mad``
    (median absolute deviation), ``n_outliers`` (rows with
    ``|value − median| > k·MAD`` — the classical robust z-screen with
    integer ``k``), and ``outlier_ppm``. NULL values are excluded up
    front (a missing measurement has no magnitude); NULL groups are
    real groups (null-safe joins throughout). All arithmetic on
    integer/decimal values stays exact (|x−med| and the k·MAD
    comparison never touch floats), so the card is engine-portable.

    Scale shape: BOTH quantile passes run through the two-level
    ``grouped_weighted_quantiles`` (per-(group, value) weight collapse
    map-side, 256 value-range buckets, boundary-bucket pruning) — no
    group-sized window anywhere, including for continuous values whose
    distinct count ~ group rows. The median/MAD tables are n_groups
    rows; they join back broadcast when ``n_groups_hint`` says they
    fit (``core.hinted_broadcast``), plain AQE-convertible joins
    otherwise. The collapsed (group, value) table and both derived
    pass inputs are lineage-truncated with lazy ``localCheckpoint``
    (the pagerank/BPE discipline): composing two quantile passes
    multiplies subtree references COMBINATORIALLY (each pass reads its
    input ~4×, and the MAD pass's input embeds the median pass whole —
    measured 28 runtime corpus scans un-checkpointed vs ONE with),
    and exchange reuse cannot be relied on across differently-pruned
    projections. The corpus is scanned exactly once; the checkpoint
    blocks are the already-shuffled collapsed table, released with the
    RDD.
    """
    cvm, _med, mad, maybe_bcast = _mad_internals(
        df, group_col, value_col, n_groups_hint
    )
    return (
        cvm.join(maybe_bcast(mad), F.col("__grp").eqNullSafe(F.col("__gd")))
        .groupBy("__grp")
        .agg(
            F.sum("__w").cast("bigint").alias("n_rows"),
            F.max("median").alias("median"),
            F.max("mad").alias("mad"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__dev") > F.lit(int(k)) * F.col("mad"),
                        F.col("__w"),
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.expr(
                "CAST(CAST(coalesce(sum(CASE WHEN __dev >"
                f" {int(k)} * mad THEN __w ELSE 0 END), 0) AS DECIMAL(38,0))"
                " * 1000000 div CAST(greatest(sum(__w), 1) AS DECIMAL(38,0))"
                " AS BIGINT)"
            ).alias("outlier_ppm"),
        )
        .withColumnRenamed("__grp", group_col)
    )


def _mad_internals(df, group_col, value_col, n_groups_hint):
    """Shared median/MAD machinery for ``grouped_mad_outliers`` and
    ``winsorize_by_mad``: NULL values dropped, ONE checkpointed
    (group, value, weight) collapse, both quantile passes two-level,
    every derived pass input lineage-truncated (see the scale-shape
    docstring above). Returns (cvm = counts joined with medians +
    deviations, median table keyed ``__gm``, mad table keyed ``__gd``,
    broadcast gate)."""
    from dabstract_spark.core import BUCKET_TABLE_ROWS, hinted_broadcast

    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("__grp"), F.col(value_col).alias("__v")
    )
    cv = (
        vals.groupBy("__grp", "__v")
        .agg(F.count(F.lit(1)).alias("__w"))
        .localCheckpoint(eager=False)
    )
    maybe_bcast = hinted_broadcast(n_groups_hint, BUCKET_TABLE_ROWS)
    med = (
        grouped_weighted_quantiles(
            cv, "__grp", "__v", "__w", [("median", 1, 2)], n_groups_hint=n_groups_hint
        )
        .withColumnRenamed("__grp", "__gm")
        .localCheckpoint(eager=False)
    )
    cvm = cv.join(
        maybe_bcast(med), F.col("__grp").eqNullSafe(F.col("__gm"))
    ).withColumn("__dev", F.abs(F.col("__v") - F.col("median")))
    dv = (
        cvm.groupBy("__grp", "__dev")
        .agg(F.sum("__w").alias("__w"))
        .localCheckpoint(eager=False)
    )
    mad = grouped_weighted_quantiles(
        dv, "__grp", "__dev", "__w", [("mad", 1, 2)], n_groups_hint=n_groups_hint
    ).withColumnRenamed("__grp", "__gd")
    return cvm, med, mad, maybe_bcast


_REGISTRY["grouped_mad_outliers"] = grouped_mad_outliers


def winsorize_by_mad(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 3,
    n_groups_hint: int | None = None,
) -> DataFrame:
    """Per-row ROBUST clipping — the materialization step behind
    ``grouped_mad_outliers``'s audit card: every row gains
    ``{value}_winsorized`` = value clipped to the group's
    ``[median − k·MAD, median + k·MAD]`` band and a ``was_clipped``
    flag, the standard winsorization a curation run applies to a
    heavy-tailed quality signal before averaging or curriculum-
    bucketing it (clip, don't drop — the row survives, its leverage
    doesn't). All band arithmetic is exact on integer/decimal values
    (|x−med| and k·MAD never touch floats). Rows whose group has no
    non-NULL value (or whose own value is NULL) pass through with a
    NULL winsorized value and ``was_clipped`` 0 — nothing to clip
    against is not clipping.

    Scale shape: the ``_mad_internals`` machinery (one checkpointed
    collapse, two two-level quantile passes — the grouped_mad_outliers
    scale story), then ONE n_groups-row (group, median, mad) band
    table joined back to the ORIGINAL rows — broadcast when
    ``n_groups_hint`` fits, AQE-convertible otherwise. The full-data
    path is the collapse plus that single join.
    """
    _cvm, med, mad, maybe_bcast = _mad_internals(
        df, group_col, value_col, n_groups_hint
    )
    # the band table is the two n_groups-row quantile outputs joined
    # directly — never a distinct over the (group, value) collapse
    bands = (
        med.join(maybe_bcast(mad), F.col("__gm").eqNullSafe(F.col("__gd")))
        .select(
            F.col("__gm").alias("__bg"),
            (F.col("median") - F.lit(int(k)) * F.col("mad")).alias("__lo"),
            (F.col("median") + F.lit(int(k)) * F.col("mad")).alias("__hi"),
        )
    )
    v = F.col(value_col)
    return (
        df.join(
            maybe_bcast(bands), F.col(group_col).eqNullSafe(F.col("__bg")), "left"
        )
        .withColumn(
            f"{value_col}_winsorized",
            F.when(
                v.isNotNull() & F.col("__lo").isNotNull(),
                F.least(F.greatest(v, F.col("__lo")), F.col("__hi")),
            ),
        )
        .withColumn(
            "was_clipped",
            F.when(
                v.isNotNull()
                & F.col("__lo").isNotNull()
                & ((v < F.col("__lo")) | (v > F.col("__hi"))),
                F.lit(1),
            )
            .otherwise(F.lit(0)),
        )
        .drop("__bg", "__lo", "__hi")
    )


_REGISTRY["winsorize_by_mad"] = winsorize_by_mad


def weighted_sample_n(
    df: DataFrame,
    n: int,
    weight_col,
    seed: int = 0,
    key: str = "row_id",
) -> DataFrame:
    """Exactly min(n, eligible) rows sampled WITHOUT replacement with
    probability proportional to weight — the curation sampler behind
    "draw a 100k-doc eval set weighted by token count / quality". The
    Efraimidis–Spirakis exponential race: each row gets
    ``e = −ln(u)/w`` with ``u`` a deterministic md5 uniform in (0, 1],
    and the n SMALLEST e win (Exp(w) order statistics ⇒ inclusion
    proportional to w, seed-reproducible, no RNG state anywhere).

    Portability: one libm ``ln`` + one division, then ``round(·, 6)``
    (the proven single-call recipe; a binary double never sits on a
    6-decimal rounding tie); remaining ties break on the key ascending.
    ``u`` uses ``md5_unit_open`` — (md5_32 + 1)/2³² — so u = 0 is
    impossible even at 100 TB (a raw 32-bit prefix IS zero once per ~4G
    rows and −ln(0) would poison the race). Rows with NULL or
    non-positive weight are EXCLUDED (a zero-weight row has inclusion
    probability 0; matching the SQL oracle's WHERE w > 0), and so are
    NULL keys: md5 of NULL is NULL, whose NULL race key would sort
    NULLS FIRST in Spark but NULLS LAST in SQL — exclusion is the only
    deterministic cross-engine contract. Keys must be UNIQUE row
    identities (doc_id/row_id): duplicate key rows would carry
    identical race keys (the sampler cannot distinguish them), and the
    streaming twin collapses them by key.

    Scale shape: the global top-n by e routes through
    ``token_budget_per_group`` (tok = 1, budget = n, one constant
    group; the weighted ``core.bucketed_rank``) — no
    single-task corpus sort, no TakeOrdered with a data-scale limit;
    the "one giant group" case is exactly what that machinery de-skews.
    Returns the selected rows' (key, weight, sample_rank)."""
    from dabstract_spark.functions.hashing import md5_unit_open

    w = (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
        "double"
    )
    u = md5_unit_open(key, seed)
    staged = (
        df.select(F.col(key), w.alias("__w"))
        .filter(F.col("__w") > 0)
        .filter(F.col(key).isNotNull())
        .withColumn("__e", F.round(-F.log(u) / F.col("__w"), 6))
        .withColumn("__wg", F.lit(0))
        # the budget machinery references its input several times
        # (range-bounds pass, bucket sums, local cumsum) — checkpoint so
        # the md5+ln staging runs once, not once per reference (the
        # grouped_mad_outliers composition lesson)
        .localCheckpoint(eager=False)
    )
    picked = token_budget_per_group(
        staged,
        "__wg",
        F.lit(1).cast("bigint"),
        [F.asc("__e"), F.asc(key)],
        budget=int(n),
        cum_col="sample_rank",
        order_key=F.col("__e"),
        n_groups_hint=1,
    )
    return picked.select(
        key, F.col("__w").cast("double").alias("weight"), "sample_rank"
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_total: int,
    seed: int = 0,
    key: str = "row_id",
) -> DataFrame:
    """Mixture-preserving eval split, materialized: Hamilton-apportion
    exactly ``n_total`` rows across groups proportional to corpus share
    (``planning.proportional_allocation`` — exact quotas, largest-
    remainder award), then draw each group's quota as its
    ``alloc_rows`` md5-smallest members — the end-to-end "give me a
    10k-doc eval set that matches the corpus mixture" one-liner the
    two pieces exist for. Deterministic and seed-reproducible;
    Σ sampled == n_total whenever every group holds at least its quota
    (guaranteed for n_total ≤ corpus rows, since each quota ≤ the
    group's own count by construction).

    Scale shape: the allocation is one map-side count + an
    n_groups-row award table (broadcast back); the draw is
    ``two_level_keep_k`` (the shared composite-bucket rank) with a
    PER-GROUP variable cap (the group's alloc joined on before both
    rank filters) — a corpus-dominating group spreads over 256 window
    tasks, and ≤ 256·alloc survivors reach the bounded second rank.
    Rows with a NULL ``key`` are EXCLUDED up front — from both the
    quota counts and the draw — because a NULL md5 rank would sort
    NULLS FIRST in Spark but NULLS LAST in SQL (the weighted_sample_n
    contract; a keyless row cannot be sampled deterministically).
    Returns (key, group, strat_rank) with strat_rank 1..alloc within
    each group."""
    from dabstract_spark.functions.hashing import md5_order
    from dabstract_spark.operators.planning import proportional_allocation

    df = df.filter(F.col(key).isNotNull())
    alloc = proportional_allocation(df, group_col, n_total).select(
        F.col(group_col).alias("__ag"), F.col("alloc_rows").alias("__alloc")
    )
    shuffled = (
        df.select(F.col(key), F.col(group_col))
        .join(
            F.broadcast(alloc),
            F.col(group_col).eqNullSafe(F.col("__ag")),
        )
        .withColumn("__shuf", md5_order(key, seed))
    )
    return two_level_keep_k(
        shuffled,
        (group_col,),
        [F.col("__shuf"), F.col(key)],
        F.conv(F.substring("__shuf", 1, 2), 16, 10).cast("int"),
        F.col("__alloc"),
        rank_col="__strat",
    ).select(
        key,
        group_col,
        F.col("__strat").cast("bigint").alias("strat_rank"),
    )
