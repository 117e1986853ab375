"""Skew-mitigation utilities (SURVEY §7-M6 100 TB posture).

AQE's skew-join splitting handles join-side skew at runtime; these
helpers cover the cases AQE does not: aggregations over heavy-hitter
keys and joins against a side AQE can't split. The pattern is classic
two-phase salting — shard each hot key across ``n_salts`` synthetic
sub-keys (map-side), aggregate partials per sub-key, then merge partials
per real key. Both shuffles move pre-aggregated data, so one
pathological key can no longer pin a single reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def salt_column(n_salts: int, *cols: str) -> Column:
    """Deterministic salt in [0, n_salts): hash of the row's full content
    (all columns given). Deterministic per row content (portable to an
    oracle), uniform across identical keys because the non-key columns
    differ."""
    return F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_salts))


def salted_count_sum(
    df: DataFrame,
    group_cols: list[str],
    sum_col: str,
    n_salts: int = 16,
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Two-phase count+sum over possibly-skewed group keys:
    partial aggregate per (key, salt), then merge per key. Returns
    (*group_cols, n, total). Decimal-exact sums so the two-phase result
    is bit-identical to the single-phase one."""
    salt_cols = salt_on or df.columns
    salted = df.withColumn("__salt", salt_column(n_salts, *salt_cols))
    partial = salted.groupBy(*group_cols, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(sum_col).cast("decimal(18,2)")).alias("__s"),
    )
    return (
        partial.groupBy(*group_cols)
        .agg(
            F.sum("__n").alias("n"),
            F.sum("__s").cast("double").alias("total"),
        )
    )


def skew_advice(
    df: DataFrame,
    key_cols: list[str],
    n_partitions: int = 32,
    broadcast_max_keys: int = 100_000,
    top_k: int = 10,
) -> DataFrame:
    """Pre-flight skew ADVISORY for a prospective join/groupBy key — the
    actionable half of :func:`key_skew_profile`: for each of the
    ``top_k`` heaviest keys, what to do about it BEFORE launching the
    100 TB job.

    Decision rules (exact integer arithmetic, so the advice is
    deterministic and oracle-checkable):

    - ``broadcast`` — the key's distinct-value table is small
      (``n_keys <= broadcast_max_keys``): join against it with
      a broadcast join and no shuffle of the big side
      happens at all; skew becomes irrelevant.
    - ``salt(k)`` — the key alone overflows a reducer's fair share
      (suggested salts ``k = ceil(cnt·n_partitions/total) > 1``): shard
      it across ``k`` sub-keys via :func:`salted_count_sum`'s two-phase
      shape (q82's mitigation). ``k`` is exactly the number of
      fair-share partitions the key's rows occupy.
    - ``ok`` — the key fits one reducer's fair share; hash partitioning
      already balances it.

    Returns one row per profiled hot key: (rank, *key_cols, cnt,
    share_ppm, n_salts, advice). Plan shape is the profiler's: one
    map-side-combinable count per key, a 1-row broadcast of the global
    stats, a small-k TakeOrdered."""
    prof = key_skew_profile(df, key_cols, top_k=top_k)
    n_salts = F.expr(
        f"CAST((CAST(cnt AS DECIMAL(38,0)) * {int(n_partitions)}"
        " + CAST(total AS DECIMAL(38,0)) - 1)"
        " div CAST(total AS DECIMAL(38,0)) AS INT)"
    )
    return prof.withColumn("n_salts", n_salts).select(
        "rank",
        *key_cols,
        "cnt",
        "share_ppm",
        "n_salts",
        F.when(F.col("n_keys") <= broadcast_max_keys, F.lit("broadcast"))
        .when(F.col("n_salts") > 1, F.concat(F.lit("salt("), F.col("n_salts"), F.lit(")")))
        .otherwise(F.lit("ok"))
        .alias("advice"),
    )


def key_skew_profile(
    df: DataFrame, key_cols: list[str], top_k: int = 10
) -> DataFrame:
    """Key-distribution diagnostics for a prospective join/agg key — the
    measurement that decides whether a key needs salting, an AQE skew
    hint, or a broadcast BEFORE the 100 TB job runs: the ``top_k``
    heaviest keys with their exact ppm share, plus corpus-level
    concentration constants on every row — ``n_keys``, ``total``,
    ``max_share_ppm``, and ``hhi_ppm`` (Herfindahl index,
    1e6·Σcnt²/total² — ~1e6/n_keys when uniform, →1e6 as one key
    dominates; exact integers via decimal(38,0) products).

    Plan shape: one map-side-combinable count per key, a 1-row global
    aggregate, and a small-k TakeOrdered (per-partition top-k merged on
    the driver — the one place sort-limit IS the scale-correct tool).
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("__mx"),
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")).alias("__sq"),
    )
    top = counts.orderBy(F.desc("cnt"), *[F.asc(c) for c in key_cols]).limit(top_k)
    from pyspark.sql import Window

    w = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("cnt"), *[F.asc(c) for c in key_cols]
    )
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .crossJoin(F.broadcast(stats))
        .select(
            "rank",
            *key_cols,
            "cnt",
            F.expr(
                "CAST((CAST(cnt AS DECIMAL(38,0)) * 1000000)"
                " div CAST(total AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("share_ppm"),
            "n_keys",
            "total",
            F.expr(
                "CAST((CAST(__mx AS DECIMAL(38,0)) * 1000000)"
                " div CAST(total AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("max_share_ppm"),
            F.expr(
                "CAST((__sq * 1000000) div (CAST(total AS DECIMAL(38,0))"
                " * CAST(total AS DECIMAL(38,0))) AS BIGINT)"
            ).alias("hhi_ppm"),
        )
    )
