"""Session-level loading behavior: the hot-table cache.

Small tables (on-disk size within ``session._CACHE_MAX_BYTES``) are
persisted once per (session, file, mtime) — the warehouse "hot dims +
working set stay resident, facts scan" split. The cache must be
value-neutral, keyed correctly, and bypassable for fact-path plan
audits.
"""

from __future__ import annotations

from dabstract_spark import session as S

from tests.conftest import SF_SMOKE


def test_small_table_is_cached_and_reused(spark):
    a = S.load_table(spark, SF_SMOKE, "documents")
    b = S.load_table(spark, SF_SMOKE, "documents")
    assert a is b, "second load of a hot table must hit the cache"
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "InMemory" in plan


def test_cache_is_value_neutral(spark):
    cached = S.load_table(spark, SF_SMOKE, "region")
    with S.table_cache_disabled():
        fresh = S.load_table(spark, SF_SMOKE, "region")
    assert fresh is not cached
    assert sorted(map(tuple, cached.collect())) == sorted(map(tuple, fresh.collect()))
    assert cached.schema == fresh.schema


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
