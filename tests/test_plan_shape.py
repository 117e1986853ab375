"""Plan-SHAPE regression tests: the exchange-reuse and dedup-free-join
claims SCALE.md records in prose, pinned as machine-checked invariants
so a future edit can't silently split the shared subtrees.

Mechanics (the round-8 gotchas, both load-bearing):

- ``table_cache_disabled()``: CacheManager substitution defeats
  ReusedExchange — a hot-table-cached InMemoryRelation input makes
  logically identical multi-consumer branches stop sharing exchanges at
  runtime. The 100 TB shape (fact tables never cached) is the raw
  parquet shape, so that's what these tests audit.
- Collect FIRST, then read ``executedPlan``: under AQE the un-executed
  adaptive plan (isFinalPlan=false) never carries ReusedExchange
  markers; reuse is decided as query stages materialize.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _executed_plan(spark, qname):
    from __spark_entry__ import queries

    from dabstract_spark.session import table_cache_disabled

    with table_cache_disabled():
        df = queries()[qname](spark, SF_SMOKE)
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()


def test_keyness_single_scan_three_reused_exchanges(spark):
    """q269: the four consumers of the (group, term) count — per-term
    group counts, term totals, group totals, corpus total — must share
    ONE exchange at runtime: exactly 3 ReusedExchange, one corpus
    scan + tokenize total. The explicit ``group IS NOT NULL`` prefilter
    in ``keyness_terms`` exists precisely to keep all four subtrees
    canonically identical (a join-inferred isnotnull pushed into only
    one branch splits them — see the negative control below)."""
    plan = _executed_plan(spark, "q269_keyness_terms")
    assert plan.count("ReusedExchange") == 3, (
        "keyness lost its shared (group, term) exchange — the corpus "
        "is being scanned/tokenized more than once:\n" + plan[:3000]
    )


def test_keyness_prefilter_is_load_bearing(spark):
    """Negative control proving the test above is SENSITIVE: the same
    consumer tree built WITHOUT the explicit isnotnull prefilter loses
    reuse (the broadcast-join branch gets a join-inferred
    isnotnull(group) the other branches lack, de-canonicalizing the
    subtrees; measured r8: 2 corpus scans without, 1 with). If THIS
    test ever fails with reuse == 3, Catalyst learned to reuse across
    the inferred filter and the prefilter workaround in
    ``keyness_terms`` can be retired."""
    from dabstract_spark.operators.select import top_k_per_group
    from dabstract_spark.operators.textstats import tokens
    from dabstract_spark.session import table_cache_disabled

    with table_cache_disabled():
        df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        # keyness_terms body minus the .filter(group.isNotNull())
        toks = df.select(F.col("source"), F.explode(tokens("text")).alias("term"))
        cgw = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt"))
        cw = cgw.groupBy("term").agg(F.sum("cnt").alias("__cw"))
        tg = cgw.groupBy("source").agg(F.sum("cnt").alias("__tg"))
        tot = cgw.agg(F.sum("cnt").alias("__tot"))
        scored = (
            cgw.filter(F.col("cnt") >= 5)
            .join(cw, "term")
            .join(F.broadcast(tg), "source")
            .crossJoin(F.broadcast(tot))
            .withColumn(
                "lift_ppm",
                F.expr(
                    "CAST((CAST(cnt AS DECIMAL(38,0)) * (__tot - __tg + 1)"
                    " * 1000000)"
                    " div (CAST(__tg AS DECIMAL(38,0)) * (__cw - cnt + 1))"
                    " AS BIGINT)"
                ),
            )
            .drop("__cw", "__tg", "__tot")
        )
        out = top_k_per_group(
            scored,
            ["source"],
            [F.desc("lift_ppm"), F.desc("cnt"), F.asc("term")],
            k=10,
        )
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") < 3, (
        "the no-prefilter twin now reuses all exchanges — Catalyst "
        "canonicalizes across the inferred isnotnull; the explicit "
        "prefilter in keyness_terms (operators/textstats.py) is no "
        "longer load-bearing and can be retired"
    )


def test_ngram_dup_shares_the_preagg_exchange(spark):
    """q263: the gram doc-frequency and per-doc rollup branches must
    derive from ONE (id, gram, count) pre-aggregate exchange, so the
    expensive token-md5 staging below it runs once, not per branch.
    Guarded in the operator by counting CASE WHEN __c > 0 (a plain
    count(1) lets column pruning rewrite one branch's copy into a
    count-less DISTINCT, splitting the canonical subtrees — the exact
    regression this test exists to catch; found and fixed r9)."""
    plan = _executed_plan(spark, "q263_memorization_audit")
    assert plan.count("ReusedExchange") >= 1, (
        "ngram_dup_stats lost its shared (id, gram) pre-aggregate — "
        "the token-md5 staging now runs once per branch:\n" + plan[:3000]
    )


def test_budget_allocation_reuses_the_group_sums(spark):
    """q271: water-filling touches the corpus once for the per-group
    sums; the iterative threshold search re-reads that n_groups-row
    aggregate through ReusedExchange (2 at r8 HEAD), never re-scanning
    the input."""
    plan = _executed_plan(spark, "q271_budget_allocation")
    assert plan.count("ReusedExchange") >= 2, (
        "budget_allocation re-scans its input instead of reusing the "
        "per-group sum exchange:\n" + plan[:3000]
    )


def test_multiprobe_join_is_dedup_free(spark):
    """q106: a corpus vector lives in exactly ONE hyperplane bucket and
    a query's probe set {b0, b0^1, ...} is pairwise distinct, so the
    probe join's output is already unique per (query, corpus) pair —
    the plan must contain NO aggregate at all (a defensive
    dropDuplicates would plan a full-width HashAggregate over the
    corpus-sized join output: pure wasted shuffle)."""
    plan = _executed_plan(spark, "q106_ann_topk_multiprobe")
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, (
        "q106 grew an aggregate — a redundant dedup shuffle on the "
        "probe-join output?\n" + plan[:3000]
    )


def test_mad_outliers_single_corpus_scan_via_checkpoints(spark):
    """q289/q298's MAD machinery must NOT re-derive the corpus per
    subtree reference: composing two two-level quantile passes
    multiplies references combinatorially (measured 28 runtime parquet
    scans before the _mad_internals lazy localCheckpoints, ONE after —
    8.5s -> 1.8s at sf0.01). The executed final plan must read the
    collapsed table through checkpointed RDD scans only; any parquet
    FileScan reappearing in it means a checkpoint was dropped and the
    combinatorial re-derivation is back."""
    plan = _executed_plan(spark, "q289_mad_outliers")
    n_parquet = plan.count("FileScan parquet")
    assert n_parquet == 0, (
        f"MAD card's final plan re-scans parquet {n_parquet}x — the "
        "_mad_internals localCheckpoint lineage cut is gone:\n" + plan[:2000]
    )
    assert "ExistingRDD" in plan  # the checkpointed collapse is the source


def test_hintless_keyed_ranks_window_reuses_the_join_shuffle(spark):
    """Without ``n_groups_hint`` the keyed bucketed ranks
    (``core.bucketed_rank``) join their offsets table back through a
    shuffle join, and the bucket-local window must run on THAT join's
    partitioning: between the window and the join below it the plan
    holds no Exchange. The group keys travel as one struct column whose
    equality is null-safe, so the join stays a plain equi-join on the
    window's own partition keys; an ``eqNullSafe`` join would shuffle on
    coalesce/isnull rewrites of the keys and force a second exchange.
    AQE and auto-broadcast are off so the planned join is the shuffle
    join a high-cardinality group column gets."""
    import re

    from dabstract_spark.core import conf_override
    from dabstract_spark.operators import select as sel

    df = spark.createDataFrame(
        [(i, None if i % 7 == 0 else f"g{i % 3}", i * 13 % 101, i % 5) for i in range(60)],
        "rid long, grp string, v long, tok long",
    )
    cases = {
        "grouped_rank_ppm": lambda: sel.grouped_rank_ppm(df, "grp", "v", "rid"),
        "grouped_order_stats": lambda: sel.grouped_order_stats(df, "grp", "v", "rid"),
        "token_budget_per_group": lambda: sel.token_budget_per_group(
            df, "grp", "tok", ["v", "rid"], 40
        ),
    }
    with conf_override(
        spark,
        {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"},
    ):
        for name, build in cases.items():
            lines = build()._jdf.queryExecution().executedPlan().toString().splitlines()
            # the topmost Window is the bucket-local one in all three plans
            top = next(i for i, ln in enumerate(lines) if re.search(r"\bWindow \[", ln))
            below = [ln for ln in lines[top + 1 :] if "Exchange" in ln or "Join" in ln]
            assert below and "SortMergeJoin" in below[0], (
                f"{name}: the bucket-local window is not fed by the shuffle "
                "join directly:\n" + "\n".join(lines)
            )
