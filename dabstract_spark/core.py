"""Row-identity discipline.

The reference's semantics are ordinal (integer indexing, positional fold
masks, concat offsets — /root/reference/dabstract/abstract/abstract.py:1242-1248).
Spark rows are unordered, so ordinal identity is reified as an explicit
``row_id BIGINT`` column. Everything positional (index selects, slices,
fold masks, concat offsets) routes through it.

Scale notes
-----------
``row_number() over (ORDER BY key)`` with no partitioning collapses to a
single task — unusable at 100 TB. ``with_row_id`` therefore ranks
distributively and entirely JVM-side with a *pure-function* bucketing
scheme: a deterministic monotone bucket is computed from the first
ordering column's VALUE (never from sampled range boundaries, which are
not reproducible across the two executions that a lazy two-pass rank
requires), per-bucket counts become cumulative offsets via a window over
the tiny bucket table, and ``row_id = offset[bucket] + row_number()``
within each bucket. One data shuffle (hash on the bucket), two small
jobs, no Python stage, no RDD, no sampling. That is the keyless case of
``bucketed_rank``, which also serves the grouped ranks, exact-count
samples and per-group prefix sums of ``operators/select.py``.

When the table already has a unique orderable key (``o_orderkey``,
``doc_id``…) prefer ``row_id_from_key`` — zero extra work and stable
across runs, which positional derivation can never be under re-partition.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Column, DataFrame, Window, functions as F

ROW_ID = "row_id"


# --------------------------------------------------------------------- #
# SQL-literal interpolation helpers (optimization r12, guide §1.2/2 —
# driver-side per-task work): building a K×dim literal vector expression
# one Column op at a time costs hundreds of py4j round trips PER CALL
# (measured ~27 ms per Column op on a high-IPC-latency host vs ~0.8 ms
# for one F.expr parse of the whole expression). Operators with literal
# vectors/matrices in their plans (centroid assignment, JL/PQ, k-center)
# therefore build ONE SQL string and pay ONE round trip. Literal
# formatting is exact: repr(float) round-trips (shortest repr), and
# Spark's parser uses Double.parseDouble — bit-identical to F.lit(v).
# --------------------------------------------------------------------- #
def sql_double(v: float) -> str:
    """Exact SQL double literal for ``float(v)`` (D suffix, special
    values via double('...'))."""
    f = float(v)
    if f != f:
        return "double('NaN')"
    if f == float("inf"):
        return "double('Infinity')"
    if f == float("-inf"):
        return "double('-Infinity')"
    return repr(f) + "D"


def sql_bigint_array(vals) -> str:
    """SQL literal array<bigint>."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def sql_double_array(vals) -> str:
    """SQL literal array<double> (exact per-element round trip)."""
    return "array(" + ",".join(sql_double(v) for v in vals) + ")"


@contextlib.contextmanager
def conf_override(spark, settings: dict):
    """Set session confs for the block, then restore each one exactly: a
    conf that was unset before entry is unset again, not set to the
    default it reads back as while unset."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def loop_actions(spark):
    """Context manager right-sizing a driver fixed-point loop's OWN
    actions (guide §1.2/§2.2): AQE off — one job per action instead of
    one per AQE query stage on frames that are loop-state-sized and
    need no runtime re-optimization — and loop-sized shuffle partitions,
    since with AQE off nothing coalesces the loop's tiny exchanges and
    the session-wide count (sized for data-scale queries) pays that
    many task launches per exchange per round in pure scheduling
    overhead. Loops run on 8 shuffle partitions, the count the streaming
    drains are right-sized to. Only valid when the loop's values are
    partition-count independent (min/sum aggregates, equi-joins,
    deterministic total orders — every loop in this repo); both confs
    are restored exactly on exit (``conf_override``) and the RETURNED
    frames execute under the caller's conf.

    Session-scope caveat: the override mutates SESSION conf, so it
    assumes the single-threaded driver every caller here is — a
    concurrent query submitted on the same SparkSession while a loop
    runs would execute with AQE off and loop-sized partitions. If
    concurrent driver threads are ever introduced, scope the loop's
    confs per-statement instead (hints / a dedicated session clone)."""
    return conf_override(
        spark,
        {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "8"},
    )


# Strictly greater than the largest Unicode code point, so
# cp(c1)*_CP_BASE + cp(c2) is monotone w.r.t. the 2-char prefix.
_CP_BASE = 1_114_112


def row_id_from_key(df: DataFrame, key: str) -> DataFrame:
    """Adopt an existing unique integer key as the ordinal row id (free)."""
    return df.withColumn(ROW_ID, F.col(key).cast("bigint"))


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and pass it to ``fn`` as a lambda
    variable. Referencing a non-trivial array expression from inside HOF
    lambdas (element_at, repeated size()) re-evaluates it per reference —
    and per ELEMENT when the reference sits in a lambda body. Binding
    through a single-element array forces one evaluation regardless of
    how many times ``fn`` uses its argument."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


#: lambda variable bind_sql binds its Column operand to
BOUND = "__pc"


def bind_sql(expr: Column, body: str) -> Column:
    """``bind_once`` with a SQL body: evaluate ``expr`` once per row and
    run the SQL text ``body`` over it as the lambda variable ``BOUND``.
    This is how SQL text composes over an operand that only exists as a
    Column (a pandas-UDF output, an opaque callable's result): one parse
    for the body, whatever its size. The operand is never spliced into
    the text by name, so it may be any Column, lambda variables of an
    enclosing Python HOF included; a nested ``BOUND`` binding in
    ``body`` shadows this one innermost-first."""
    return F.call_function("transform", F.array(expr), F.expr(f"{BOUND} -> {body}"))[0]


def _string_bucket(name: str, prefix_skip: int = 0) -> Column:
    """Deterministic monotone bucket for a string key COLUMN NAME: the
    code points of the first two characters after ``prefix_skip``.
    Monotone w.r.t. Spark's string ordering (valid when every key shares
    an identical prefix of that length — e.g. filepaths under one base
    dir), ties share a bucket, and for uniform keys (md5-hex ordinals —
    the engine's own pseudo-random orderings) it yields 256 balanced
    groups. NULLs map below every non-NULL (Spark sorts NULLS FIRST
    asc). One F.expr parse of the same tree (r12 chatter cut)."""
    c = f"`{name}`"
    g = (
        f"(cast(coalesce(ascii(substring({c}, {prefix_skip + 1}, 1)), -1) as bigint)"
        f" * {_CP_BASE}"
        f" + cast(coalesce(ascii(substring({c}, {prefix_skip + 2}, 1)), -1) as bigint))"
    )
    return F.expr(
        f"(CASE WHEN {c} IS NULL THEN {-(_CP_BASE**2)} ELSE {g} END)"
    )


def _numeric_bucket(df: DataFrame, c: Column, buckets: int) -> tuple[DataFrame, Column]:
    """Uniform-width bucket from a lazily broadcast (min, max) aggregate.
    The aggregate is deterministic, so every consumer of the plan computes
    identical buckets — unlike repartitionByRange's sampled boundaries."""
    mm = df.select(
        F.min(c).cast("double").alias("__lo"), F.max(c).cast("double").alias("__hi")
    )
    with_mm = df.crossJoin(F.broadcast(mm))
    width = (F.col("__hi") - F.col("__lo")) + F.lit(1e-9)
    g = F.least(
        F.greatest(
            F.floor((c.cast("double") - F.col("__lo")) / width * buckets), F.lit(0)
        ),
        F.lit(buckets - 1),
    ).cast("bigint")
    g = F.when(c.isNull(), F.lit(-1)).otherwise(g)
    return with_mm, g


#: Largest side table, in rows, that a caller's size hint may broadcast
#: statically. Past it, or with no hint, joins stay plain and AQE
#: broadcasts at runtime only when the table proves small.
BROADCAST_MAX_ROWS = 1_000_000

#: Rows per group of a bucketed rank's offsets table: 256 buckets plus
#: a NULL bucket.
BUCKET_TABLE_ROWS = 257


def hinted_broadcast(hint: int | None, rows_per_key: int = 1):
    """THE static broadcast gate: ``F.broadcast`` when ``hint`` (an upper
    bound on a side table's key count) × ``rows_per_key`` fits
    ``BROADCAST_MAX_ROWS``, else the identity. No count job, and no
    driver-side broadcast of a table nobody bounded (per-URL-host
    calibration over the open web: 10^7 groups × 257 = 2.5e9 rows)."""
    if hint is not None and int(hint) * rows_per_key <= BROADCAST_MAX_ROWS:
        return F.broadcast
    return lambda d: d


def _value_range_bucket(d: DataFrame, value: Column, null_bucket: int, bcast) -> DataFrame:
    """Per-group VALUE-RANGE bucket ``__b0`` in [0, 255]: the group's
    [min, max] of ``value`` (one map-side-combined aggregate, n_groups
    rows, joined back on ``__gk``) split into 256 equal ranges, so
    bucket b wholly precedes bucket b+1 in the group's order and equal
    values share a bucket. NULL values sort outside the range, into
    ``null_bucket``."""
    keyed = d.withColumn("__k", value.cast("double"))
    stats = keyed.groupBy("__gk").agg(
        F.expr("min(__k) AS __kmin"), F.expr("max(__k) AS __kmax")
    )
    bucket = (
        f"CASE WHEN __k IS NULL THEN {int(null_bucket)}"
        " WHEN (__kmax - __kmin) <= 0 THEN 0"
        " ELSE least(255, CAST(floor((__k - __kmin) * 256.0"
        " / (__kmax - __kmin)) AS INT)) END"
    )
    return (
        keyed.join(bcast(stats), "__gk")
        .withColumn("__b0", F.expr(bucket))
        .drop("__k", "__kmin", "__kmax")
    )


def bucketed_rank(
    df: DataFrame,
    keys: list,
    order: list,
    out: str,
    *,
    bucket=None,
    value_range: Column | None = None,
    nulls_last: bool = False,
    weight: Column | None = None,
    total: str | None = None,
    prune=None,
    n_groups_hint: int | None = None,
) -> DataFrame:
    """THE distributed bucketed rank: ``out`` = each row's 1-based
    position in ``order`` within its ``keys`` group (or, with
    ``weight``, the group's inclusive running sum of ``weight`` in that
    order), computed without any window over a whole group.

    Every row carries a bucket that is monotone in ``order`` (a bucket
    never holds a row ordered after a row of a later bucket). Then:

    1. per-(keys, bucket) row count (or ``weight`` sum) — a table of
       ≤ n_groups × ``BUCKET_TABLE_ROWS`` rows;
    2. over that bounded table, the exclusive prefix ``__off`` and,
       when ``total`` names a column, the group total;
    3. the table joins back to the rows;
    4. ``out`` = ``__off`` + a bucket-local ``row_number`` (or running
       sum), so each window task holds one bucket of one group.

    A corpus-dominating group spreads over its buckets' tasks instead of
    serializing into one sort, with no count job. Under a total
    ``order`` the result is byte-identical to the naive
    ``Window.partitionBy(keys).orderBy(order)`` form.

    ``keys``: group column names, possibly empty (one global order; the
    prefix window then runs over the constant-partitioned bucket table,
    ≤256 hex / 4·npart numeric / n_stages×256 composite buckets for the
    callers here). A NULL group value is a real group: the keys travel
    as ONE struct column ``__gk``, whose equality matches NULL fields,
    so the join back is null-safe while staying a plain equi-join whose
    shuffle the bucket-local window reuses on the hint-less path.

    ``bucket``: a Column, or a list of Columns whose lexicographic
    order is the bucket order (``curriculum_order``'s (stage, md5
    prefix)); a row with a NULL bucket value finds no offsets row and
    drops. ``value_range`` (keyed ranks only): instead of ``bucket``, a
    numeric Column split per group into 256 value ranges by the group's
    min/max; NULLs go first (bucket -1) or, with ``nulls_last``, last
    (bucket 256).

    ``weight``: sum this instead of counting rows. The offset stays NULL
    when every earlier bucket's sum is NULL, and ``out`` is NULL exactly
    when the row's whole inclusive prefix is — the naive window cumsum,
    NULL weights included.

    ``prune``: a function that filters the offsets table (columns
    ``__gk``, the bucket columns ``__b0``…, the bucket's count or sum
    ``__cnt``, ``__off`` and ``total``) before it joins back; rows of a
    dropped bucket drop from the result. Windows it runs partitioned by
    ``__gk`` reuse the offsets windows' shuffle.

    Side tables broadcast statically under ``hinted_broadcast``
    (``n_groups_hint`` × ``BUCKET_TABLE_ROWS``; keyless = one group).
    Returns ``df``'s columns plus ``out`` (and ``total``)."""
    part = ["__gk"] if keys else []
    bcast = hinted_broadcast(n_groups_hint if keys else 1, BUCKET_TABLE_ROWS)
    d = df.withColumn("__gk", F.struct(*keys)) if keys else df
    if value_range is not None:
        d = _value_range_bucket(d, value_range, 256 if nulls_last else -1, bcast)
        bnames = ["__b0"]
    else:
        specs = bucket if isinstance(bucket, list) else [bucket]
        bnames = [f"__b{i}" for i in range(len(specs))]
        for name, b in zip(bnames, specs):
            d = d.withColumn(name, b)

    agg = F.count(F.lit(1)) if weight is None else F.sum(weight)
    counts = d.groupBy(*part, *bnames).agg(agg.alias("__cnt"))
    # bounded by construction: ≤ n_groups × BUCKET_TABLE_ROWS rows
    w = (Window.partitionBy(*part) if part else Window.partitionBy(F.lit(0))).orderBy(
        *bnames
    )
    off = F.sum("__cnt").over(w.rowsBetween(Window.unboundedPreceding, -1))
    if weight is None:
        off = F.coalesce(off, F.lit(0))
    cols = [*part, *bnames, "__cnt", off.alias("__off")]
    if total is not None:
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        cols.append(F.sum("__cnt").over(whole).alias(total))
    offsets = counts.select(*cols)
    if prune is not None:
        offsets = prune(offsets)

    local = Window.partitionBy(*part, *bnames).orderBy(*order)
    if weight is None:
        val = F.col("__off") + F.row_number().over(local)
    else:
        run = F.sum(weight).over(local.rowsBetween(Window.unboundedPreceding, 0))
        val = F.when(F.col("__off").isNull() & run.isNull(), F.lit(None)).otherwise(
            F.coalesce(F.col("__off"), F.lit(0)) + F.coalesce(run, F.lit(0))
        )
    return (
        d.join(bcast(offsets), [*part, *bnames])
        .withColumn(out, val)
        .drop(*part, *bnames, "__cnt", "__off")
    )


def with_row_id(df: DataFrame, order_by: str | list[str], prefix_skip: int = 0) -> DataFrame:
    """Assign a dense 0-based ``row_id`` following ``order_by``, distributed.

    ``order_by`` must be a total order (unique key set) for the result to
    be deterministic. All-JVM: no RDD, no UDF, no driver-side data motion
    beyond a #buckets-sized offset table. ``prefix_skip``: for string
    keys sharing an identical common prefix (filepaths under a base dir),
    bucket on the characters after it — otherwise everything lands in one
    bucket (still correct, but a single window task). The rank is
    ``bucketed_rank`` with no group keys, bucketed on the first ordering
    column's value (≤256 hex-prefix buckets for md5-hex keys, 4·npart
    numeric buckets).
    """
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    first = cols[0]
    if dict(df.dtypes)[first] == "string":
        src, g = df, _string_bucket(first, prefix_skip)
    else:
        npart = max(df.sparkSession.sparkContext.defaultParallelism, 1)
        src, g = _numeric_bucket(df, F.col(first), buckets=npart * 4)
    return (
        bucketed_rank(src, [], cols, ROW_ID, bucket=g)
        .withColumn(ROW_ID, (F.col(ROW_ID) - 1).cast("bigint"))
        .drop("__lo", "__hi")
    )


def slice_filter(df: DataFrame, start=None, stop=None, step=None) -> DataFrame:
    """Ordinal slice ``[start:stop:step]`` as a pushdown-friendly filter on
    ``row_id`` (reference: slice selectors, abstract.py:1242-1248)."""
    out = df
    s = 0 if start is None else start
    if start is not None:
        out = out.filter(F.col(ROW_ID) >= start)
    if stop is not None:
        out = out.filter(F.col(ROW_ID) < stop)
    if step is not None and step != 1:
        out = out.filter((F.col(ROW_ID) - F.lit(s)) % step == 0)
    return out


def select_indices(df: DataFrame, indices) -> DataFrame:
    """Explicit index-array selection (reference SelectAbstract with an index
    list) as a broadcast semi-join on row_id. The index list is a small
    driver-side artifact, so broadcast is always right."""
    spark = df.sparkSession
    idx_df = spark.createDataFrame([(int(i),) for i in indices], f"{ROW_ID} long")
    return df.join(F.broadcast(idx_df), ROW_ID, "left_semi")


def dense_codes(df: DataFrame, col: str, out_col: str) -> DataFrame:
    """Dictionary table ``(col, out_col)``: dense 0-based int codes in
    sorted-value order over the DISTINCT values of ``col`` (stringlist2ind
    parity, reference utils.py:553-569).

    Window-free: code(v) = count of distinct values < v, computed as a
    tiny-×-tiny self-join + count on the distinct table. The dictionary
    is by definition small (a label domain), so the O(k²) join is
    negligible and the plan carries NO single-partition WindowExec — a
    ``dense_rank`` over even a tiny table still moves that table through
    one window task and trips the global-window audit. NULL values get
    no code (left out of the dictionary); join back with ``broadcast``.
    """
    vals = df.select(F.col(col).alias("__val")).filter(F.col("__val").isNotNull()).distinct()
    smaller = vals.select(F.col("__val").alias("__lt"))
    return (
        vals.join(F.broadcast(smaller), F.col("__lt") < F.col("__val"), "left")
        .groupBy("__val")
        .agg(F.count("__lt").cast("int").alias(out_col))
        .select(F.col("__val").alias(col), out_col)
    )
