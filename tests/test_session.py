"""Session-level loading behavior: the hot-table cache and the scan
re-layout.

Small tables (on-disk size within ``session._CACHE_MAX_BYTES``) are
persisted once per (session, file, mtime) — the warehouse "hot dims +
working set stay resident, facts scan" split. The cache must be
value-neutral, keyed correctly, and bypassable for fact-path plan
audits.

Single-row-group files of at least ``session._RELAYOUT_MIN_BYTES`` are
split on the driver into scan chunks (``session._parallel_layout``).
The chunks must read back through Spark as the source's exact schema and
rows, with no Spark job spent building them.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from dabstract_spark import session as S

from tests.conftest import SF_SMOKE

HOSTILE = str(Path(__file__).resolve().parent / "fixtures" / "hostile")


def test_small_table_is_cached_and_reused(spark):
    a = S.load_table(spark, SF_SMOKE, "documents")
    b = S.load_table(spark, SF_SMOKE, "documents")
    assert a is b, "second load of a hot table must hit the cache"
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "InMemory" in plan


def test_cache_bypass_restores_parquet_scan(spark):
    with S.table_cache_disabled():
        df = S.load_table(spark, SF_SMOKE, "nation")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan
    assert "InMemoryTableScan" not in plan


def test_threshold_excludes_fact_tables(spark, monkeypatch):
    """A table above the budget must NOT be cached — fact tables keep
    streaming from parquet so pushdown/pruning stay in play."""
    monkeypatch.setattr(S, "_CACHE_MAX_BYTES", 10_000)  # below documents' size
    df = S.load_table(spark, SF_SMOKE, "documents")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan


def _rows(df):
    """Sorted row reprs; map columns compare through ``to_json`` (a
    map's Python dict order is not part of its value)."""
    cols = [
        F.to_json(F.col(f.name)).alias(f.name)
        if f.dataType.typeName() == "map"
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return sorted(repr(tuple(r)) for r in df.select(cols).collect())


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


@pytest.fixture
def layout_scratch(tmp_path, monkeypatch):
    """Chunks land under ``tmp_path``, in a layout cache of this test's
    own, from files of any size."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setattr(S, "_RELAYOUT", {})
    monkeypatch.setattr(S, "_RELAYOUT_MIN_BYTES", 0)
    return tmp_path


def _spark_written_source(spark, d: Path) -> str:
    """One Spark-written parquet file holding Spark's default INT96
    timestamps (top level, in an array, in a struct and as map values)
    next to NTZ timestamp, decimal, struct and map columns."""
    spark.range(2000).select(
        F.col("id"),
        F.expr("timestamp_micros(id * 1000003 + 1600000000000000)").alias("ts"),
        F.expr("array(timestamp_micros(id * 7 + 1500000000000000), NULL)").alias("tsa"),
        F.expr("CAST(timestamp_micros(id * 11) AS TIMESTAMP_NTZ)").alias("ntz"),
        F.expr("CAST(id / 7 AS DECIMAL(12, 3))").alias("dec"),
        F.expr("named_struct('a', id, 't', timestamp_micros(id))").alias("st"),
        F.expr("map(CAST(id AS STRING), timestamp_micros(id), 'k', NULL)").alias("m"),
    ).coalesce(1).write.parquet(str(d))
    (part,) = [p for p in os.listdir(d) if p.endswith(".parquet")]
    return str(d / part)


@pytest.mark.parametrize("source", ["fixture", "spark_int96"])
def test_layout_reads_back_as_the_source(spark, layout_scratch, monkeypatch, source):
    if source == "fixture":
        path = str(layout_scratch / "lineitem.parquet")
        shutil.copy(f"{SF_SMOKE}/lineitem.parquet", path)
    else:
        path = _spark_written_source(spark, layout_scratch / "src")
    monkeypatch.setattr(S, "_RELAYOUT_CHUNK_BYTES", os.path.getsize(path) // 3)

    before = _job_ids(spark)
    out = S._parallel_layout(path)
    assert _job_ids(spark) == before, "building the chunks ran a Spark job"
    assert S._parallel_layout(path) == out, "a second call must reuse the chunks"

    assert sorted(os.listdir(out)) == [f"part-0000{i}.parquet" for i in range(3)]
    src, chunks = spark.read.parquet(path), spark.read.parquet(out)
    assert chunks.schema == src.schema
    assert chunks.rdd.getNumPartitions() >= 2
    assert _rows(chunks) == _rows(src)


TABLES = [(SF_SMOKE, t) for t in S.TPCH_TABLES] + [(HOSTILE, t) for t in S.TPCH_TABLES]


@pytest.mark.parametrize(
    "sf_dir,name", TABLES, ids=[f"{Path(d).name}-{t}" for d, t in TABLES]
)
def test_layout_and_cache_are_value_neutral(spark, layout_scratch, monkeypatch, sf_dir, name):
    """Every fixture table, empty and 1-row ones included, loads to the
    same schema and rows through scan chunks (the layout forced on), a
    plain scan, and the hot-table cache."""

    def load():
        monkeypatch.setattr(S, "_PLAN_MEMO", {})  # no DataFrame reuse across ways
        df = S.load_table(spark, sf_dir, name)
        return df.is_cached, df.schema, _rows(df)

    with S.table_cache_disabled():
        chunked = load()
        assert len(S._RELAYOUT) == 1, "the layout did not engage"
        monkeypatch.setattr(S, "_RELAYOUT_MIN_BYTES", 1 << 62)
        scanned = load()
    cached = load()
    assert cached[0] and not scanned[0]
    assert chunked == scanned
    assert cached[1:] == scanned[1:]
