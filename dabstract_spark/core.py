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
jobs, no Python stage, no RDD, no sampling.

When the table already has a unique orderable key (``o_orderkey``,
``doc_id``…) prefer ``row_id_from_key`` — zero extra work and stable
across runs, which positional derivation can never be under re-partition.
"""

from __future__ import annotations

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
    are restored exactly on exit (a conf that was unset before entry is
    unset again, not set to its default) and the RETURNED frames
    execute under the caller's conf.

    Session-scope caveat: the override mutates SESSION conf, so it
    assumes the single-threaded driver every caller here is — a
    concurrent query submitted on the same SparkSession while a loop
    runs would execute with AQE off and loop-sized partitions. If
    concurrent driver threads are ever introduced, scope the loop's
    confs per-statement instead (hints / a dedicated session clone)."""
    import contextlib

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

    @contextlib.contextmanager
    def _cm():
        prev = {k: spark.conf.get(k, None) for k in keys}
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return _cm()


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


def with_row_id(df: DataFrame, order_by: str | list[str], prefix_skip: int = 0) -> DataFrame:
    """Assign a dense 0-based ``row_id`` following ``order_by``, distributed.

    ``order_by`` must be a total order (unique key set) for the result to
    be deterministic. All-JVM: no RDD, no UDF, no driver-side data motion
    beyond a #buckets-sized offset table. ``prefix_skip``: for string
    keys sharing an identical common prefix (filepaths under a base dir),
    bucket on the characters after it — otherwise everything lands in one
    bucket (still correct, but a single window task).
    """
    cols = [order_by] if isinstance(order_by, str) else list(order_by)
    first = cols[0]
    dtype = dict(df.dtypes)[first]
    npart = max(df.sparkSession.sparkContext.defaultParallelism, 1)

    drop_extra = ["__g", "__off"]
    if dtype == "string":
        bucketed = df.withColumn("__g", _string_bucket(first, prefix_skip))
    else:
        src, g = _numeric_bucket(df, F.col(first), buckets=npart * 4)
        bucketed = src.withColumn("__g", g)
        drop_extra += ["__lo", "__hi"]

    # Tiny per-bucket counts → cumulative offsets. The window runs over
    # ≤ #distinct-buckets rows (256 for hex keys, 4·npart for numeric) —
    # a single small task, not a data-sized stage.
    counts = bucketed.groupBy("__g").agg(F.expr("count(1) AS __n"))
    # explicit constant partition key: identical single-partition plan,
    # but keeps the WindowExec no-partition warning reserved for real
    # data-scale windows (this table is bounded by construction)
    offsets = counts.selectExpr(
        "__g",
        "coalesce(sum(__n) OVER (PARTITION BY 0 ORDER BY __g "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __off",
    )

    order_sql = ", ".join(f"`{c}`" for c in cols)
    return (
        bucketed.join(F.broadcast(offsets), "__g")
        .withColumn(
            ROW_ID,
            F.expr(
                "cast(__off + row_number() OVER "
                f"(PARTITION BY __g ORDER BY {order_sql}) - 1 as bigint)"
            ),
        )
        .drop(*drop_extra)
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
