"""Bucketed-table writes for co-located joins (SURVEY §7 / 100 TB
posture: "co-locate joins via bucketing").

Two tables bucketed (and sorted) on the same key with the same bucket
count join WITHOUT a shuffle: the sort-merge join reads bucket i of each
side directly. At 100 TB this turns every recurring big-big equi-join on
a stable key (row_id feature re-attachment, fold assignments, metadata)
from two full shuffles into zero."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) table. ``path`` makes it
    external; bucket metadata lives in the session catalog either way
    (Spark bucketing is catalog-backed — plain .parquet() cannot carry
    bucket specs)."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — plans with NO
    exchange on either side (verify with .explain: no
    'Exchange hashpartitioning' above the scans)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
