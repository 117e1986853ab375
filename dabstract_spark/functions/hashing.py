"""Deterministic, engine-portable pseudo-randomness and hashing.

The reference uses unseeded ``np.random`` for subsampling and seed-0
sklearn folds (/root/reference/dabstract/dataset/select.py:14,
/root/reference/dabstract/dataset/xval.py:69-118) — irreproducible across
engines. This engine instead derives all "random" orderings from
``md5(seed || key)``: md5 produces identical lowercase hex in Spark,
DuckDB, and Python, so fold assignment / sampling is reproducible AND
oracle-checkable, while remaining uniformly distributed.

At scale md5 is a cheap JVM-side codegen'd expression — no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def md5_order(col: Column | str, seed: int = 0) -> Column:
    """A pseudo-random total ordering key: md5(seed || value)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(str(seed) + ":"), c.cast("string")))


def md5_bucket(col: Column | str, buckets: int, seed: int = 0) -> Column:
    """Uniform deterministic bucket in [0, buckets): parse the first 8 hex
    chars of md5 and mod. Spark's conv() handles hex→decimal JVM-side."""
    h = md5_order(col, seed)
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % buckets).cast("int")


def md5_bucket_sql(expr: str, buckets: int, seed: int = 0) -> str:
    """Spark-SQL text twin of ``md5_bucket`` (one-parse composers, r12
    chatter cut): identical expression tree, identical buckets."""
    return (
        f"CAST(CAST(conv(substring(md5(concat('{seed}:',"
        f" CAST({expr} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        f" % {buckets} AS INT)"
    )


def md5_unit(col: Column | str, seed: int = 0) -> Column:
    """Uniform deterministic double in [0,1) from the md5 prefix."""
    h = md5_order(col, seed)
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(float(2**32))


def md5_unit_open(col: Column | str, seed: int = 0) -> Column:
    """Uniform deterministic double in the OPEN-below interval (0, 1]:
    (md5_32 + 1) / 2^32. For samplers that feed ln(u) — the half-open
    md5_unit IS zero once per ~4G keys and −ln(0) would poison the
    race. Every step is exact in float64 (integers < 2^53), so this
    equals the oracle-side ((\\'0x\\' || substr(md5(...),1,8))::BIGINT + 1)
    / 4294967296.0 bit for bit."""
    h = md5_order(col, seed)
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + F.lit(1.0)
    ) / F.lit(float(2**32))
