"""Edge-case regression tests for ADVICE round-1 findings:

- empty/short arrays and strings through split/framing/replicate must
  produce ZERO rows, not spurious chunk_id 0/-1 rows (F.sequence descends
  when start > stop);
- sample_replicate with factor 0 emits nothing;
- random_split is usable through set_xval/get_xval_set (set_name
  contract);
- NULL/empty-content rows pass through exact/simhash dedup unchanged;
- Dataset.add with a partial (row_id, value) frame keeps cardinality.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from dabstract_spark.dataset import Dataset
from dabstract_spark.operators import dedup as dd, split as sp


def test_split_array_empty_and_short(spark):
    df = spark.createDataFrame(
        [(1, [1, 2]), (2, []), (3, [1, 2, 3, 4, 5])], "id int, xs array<int>"
    )
    # drop_last_partial: 2-element row has no full window of 4 → no rows
    out = sp.split_array(df, "xs", 4, drop_last_partial=True)
    got = {(r.id, r.chunk_id) for r in out.collect()}
    assert got == {(3, 0)}
    # keep-partial: empty array still yields no rows
    out2 = sp.split_array(df, "xs", 4, drop_last_partial=False)
    got2 = sorted((r.id, r.chunk_id) for r in out2.collect())
    assert got2 == [(1, 0), (3, 0), (3, 1)]


def test_split_text_empty(spark):
    df = spark.createDataFrame([(1, ""), (2, "abcdef")], "id int, t string")
    out = sp.split_text(df, "t", 4)
    got = sorted((r.id, r.chunk_id, r.t) for r in out.collect())
    assert got == [(2, 0, "abcd"), (2, 1, "ef")]


def test_sample_replicate_zero_factor(spark):
    df = spark.createDataFrame([(0,), (1,), (2,)], "id int")
    out = sp.sample_replicate(df, F.col("id"))
    got = sorted((r.id, r.replica_id) for r in out.collect())
    assert got == [(1, 1), (2, 1), (2, 2)]


def test_frame_array_short_rows(spark):
    df = spark.createDataFrame([(1, [1, 2]), (2, [1, 2, 3, 4])], "id int, xs array<int>")
    out = sp.frame_array(df, "xs", frame_size=3, step=1)
    got = sorted((r.id, r.frame_id) for r in out.collect())
    assert got == [(2, 0), (2, 1)]


def test_random_split_via_set_xval(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    ds = Dataset(df, name="t")
    ds = ds.set_xval("random_split", key="k", val_frac=0.2, test_frac=0.2, seed=1)
    train = ds.get_xval_set("train").full_df
    val = ds.get_xval_set("val").full_df
    test = ds.get_xval_set("test").full_df
    n_tr, n_va, n_te = train.count(), val.count(), test.count()
    assert n_tr + n_va + n_te == 200
    assert 0 < n_va < n_tr and 0 < n_te < n_tr
    # disjoint
    assert train.join(val, "k", "inner").count() == 0
    assert train.join(test, "k", "inner").count() == 0


def test_set_xval_rejects_bad_builder(spark):
    df = spark.createDataFrame([(1,)], "k bigint")
    ds = Dataset(df, name="t")

    def bad(cand, key, seed):
        return cand.select(key)

    try:
        ds.set_xval(bad, key="k")
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_dedup_null_content_passthrough(spark):
    df = spark.createDataFrame(
        [Row(id=1, t="same words here"), Row(id=2, t="same words here"),
         Row(id=3, t=None), Row(id=4, t=None), Row(id=5, t="  ")],
        "id int, t string",
    )
    out = dd.exact_dedup(df, "id", "t")
    kept = sorted(r.id for r in out.collect())
    # the two NULLs each pass through; the duplicate text keeps min id.
    # "  " normalizes to "" (a real, hashable empty string) and is kept.
    assert kept == [1, 3, 4, 5]

    out2 = dd.simhash_dedup(df, "id", "t")
    kept2 = sorted(r.id for r in out2.collect())
    # token-less rows (NULL and whitespace-only) all pass through
    assert kept2 == [1, 3, 4, 5]


def test_minhash_bands_divisibility(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, t string")
    try:
        dd.minhash_bands(df, "id", "t", n_hashes=16, bands=5)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_add_partial_column_keeps_cardinality(spark):
    base = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "row_id bigint, v string")
    extra = spark.createDataFrame([(0, 10), (2, 30)], "row_id bigint, x int")
    ds = Dataset(base, name="t").add("x", extra)
    got = {r.row_id: r.x for r in ds.full_df.collect()}
    assert got == {0: 10, 1: None, 2: 30}


def test_split_multi_min_normalization(spark):
    """Two keys with different windows: chunk count normalizes to the
    minimum across keys and both stay aligned on one chunk_id
    (reference add_split's min-duration normalization + equal-length
    assert, dataset.py:379-417)."""
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(12)], [float(i) * 10 for i in range(6)])],
        "id int, a array<double>, b array<double>",
    )
    ds = Dataset(df, name="t")
    # a: w=4 -> 3 chunks; b: w=4 -> 2 chunks (ceil 6/4) -> normalized to 2
    out = ds.add_split(["a", "b"], split_size=4).full_df.collect()
    assert len(out) == 2
    got = sorted((r.chunk_id, tuple(r.a), tuple(r.b)) for r in out)
    assert got[0] == (0, (0.0, 1.0, 2.0, 3.0), (0.0, 10.0, 20.0, 30.0))
    assert got[1] == (1, (4.0, 5.0, 6.0, 7.0), (40.0, 50.0))


def test_add_split_seconds_per_key_rates(spark):
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)], 4.0)], "id int, a array<double>, fs double"
    )
    ds = Dataset(df, name="t")
    # 0.5 s at fs=4 -> window 2 -> 4 chunks
    out = ds.add_split("a", split_size=0.5, type="seconds", rate="fs").full_df.collect()
    assert len(out) == 4
    assert sorted(tuple(r.a) for r in out)[0] == (0.0, 1.0)


def test_add_split_power2_rounding(spark):
    df = spark.createDataFrame([(1, [float(i) for i in range(10)])], "id int, a array<double>")
    ds = Dataset(df, name="t")
    # round(0.6 * 5) = 3 -> next pow2 = 4 -> ceil(10/4) = 3 chunks
    out = ds.add_split("a", split_size=0.6, type="seconds", rate=5, constraint="power2").full_df.collect()
    assert len(out) == 3
    assert sorted(len(r.a) for r in out) == [2, 4, 4]


def test_asof_join_tie_and_strict_semantics(spark):
    """asof_join: equal-ts right row is visible non-strict, invisible
    strict; earlier rights win over nothing; no-match yields NULL."""
    from datetime import datetime as DT

    from dabstract_spark.operators.events import asof_join

    left = spark.createDataFrame(
        [(1, 10, DT(2024, 1, 1, 0, 0, 10)), (2, 10, DT(2024, 1, 1, 0, 0, 20)), (3, 99, DT(2024, 1, 1, 0, 0, 5))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, DT(2024, 1, 1, 0, 0, 10), 1.5), (10, DT(2024, 1, 1, 0, 0, 15), 2.5)],
        "user_id long, ts timestamp, value double",
    )
    got = {
        r.event_id: r.value_asof
        for r in asof_join(left, right, right_cols=("value",)).collect()
    }
    assert got == {1: 1.5, 2: 2.5, 3: None}
    strict = {
        r.event_id: r.value_asof
        for r in asof_join(left, right, right_cols=("value",), strict=True).collect()
    }
    assert strict == {1: None, 2: 2.5, 3: None}


def test_bench_json_line_fits_capture_window():
    """The harness that records bench output keeps only the tail of
    stdout (~2000 bytes): the one-line JSON summary must stay under that
    with headroom, and the shortened qNN keys must stay unique."""
    import __spark_entry__ as E

    names = list(E.queries())
    keys = [n.split("_", 1)[0] for n in names]
    assert len(set(keys)) == len(keys), "qNN prefix collision"
    # bench caps the per-query map at its DETAIL_N slowest entries and
    # buckets the rest — the line size is bounded by DETAIL_N, not the
    # catalog size. Mirror that cap here (~"qNNN":123.45, per entry).
    import re
    from pathlib import Path

    bench_src = (Path(__file__).resolve().parent.parent / "bench.py").read_text()
    detail_n = int(re.search(r"DETAIL_N = (\d+)", bench_src).group(1))
    est = 160 + sum(len(k) + 12 for k in keys[: min(detail_n, len(keys))])
    assert est < 1800, f"bench JSON line estimate {est}B exceeds capture budget"


def test_snapshot_diff_null_safety(spark):
    from dabstract_spark.operators.quality import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "a"), (3, "b"), (4, None)], "k bigint, v string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "A"), (5, "c"), (4, "now-set")], "k bigint, v string"
    )
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, "k", ["v"]).collect()}
    # NULL == NULL is 'unchanged' (eqNullSafe), NULL -> value is 'changed'
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "changed", 5: "added"}


def test_user_history_repartition_invariant(spark):
    """q121's per-user history string must not depend on partitioning:
    collect_list is unordered, so the array_sort over (ts, event_id)
    structs is what makes the result deterministic."""
    from dabstract_spark.queries_text import q121_user_histories

    a = {
        r["user_id"]: r["history"]
        for r in q121_user_histories(spark, "/root/testdata/sf0.001").collect()
    }
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        b = {
            r["user_id"]: r["history"]
            for r in q121_user_histories(spark, "/root/testdata/sf0.001").collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert a == b


def test_new_r6_operators_on_empty_input(spark):
    """Bloom, winnowing, capped pair miners, and the capped funnel must
    all yield clean empty results on empty inputs (no first()/collect()
    crash, no schema surprises)."""
    from dabstract_spark.operators import dedup as dd
    from dabstract_spark.operators.bloom import (
        bloom_probe,
        bloom_sketch,
        dedup_against_bloom,
    )
    from dabstract_spark.operators.events import funnel_stages

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert dd.winnow_fingerprints(empty_docs, "doc_id", "text").count() == 0
    assert dd.winnow_pairs(empty_docs, "doc_id", "text", max_df=10).count() == 0
    assert dd.jaccard_pairs(empty_docs, "doc_id", "text", max_df=10).count() == 0
    sk = bloom_sketch(empty_docs.select("text"), "text")
    assert sk.count() == 0
    # probing an EMPTY filter: everything is definitely-unseen
    probed = bloom_probe(sk, spark.createDataFrame([("x",)], "k string"), "k")
    assert [r.possible_member for r in probed.collect()] == [False]
    some = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    kept = dedup_against_bloom(some, empty_docs, "doc_id", "text")
    assert [r.doc_id for r in kept.collect()] == [1]
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    assert funnel_stages(empty_events, max_events=5).count() == 0


def test_corpus_datasheet_total_on_empty_corpus(spark):
    """The data card is TOTAL on the degenerate input: an empty corpus
    yields the full 7-row card with exact-integer ZEROS (Spark's
    sum/div over zero rows is NULL — the card coalesces)."""
    from dabstract_spark.operators.quality import corpus_datasheet

    empty = spark.createDataFrame([], "doc_id long, text string, lang string")
    got = {r.metric: r.value for r in corpus_datasheet(
        empty, "doc_id", "text", lang_col="lang"
    ).collect()}
    assert got == {
        "n_docs": 0, "n_tokens": 0, "n_langs": 0, "short_docs": 0,
        "pii_docs": 0, "dup_docs": 0, "mean_quality_ppm": 0,
    }


def test_key_skew_profile_hhi_bounds(spark):
    from dabstract_spark.operators.skew import key_skew_profile

    # uniform: 4 keys x 5 rows -> hhi = 1e6/4
    uni = spark.createDataFrame([(i % 4,) for i in range(20)], "k int")
    u = key_skew_profile(uni, ["k"], top_k=2).collect()
    assert all(r.hhi_ppm == 250_000 for r in u)
    assert [r.rank for r in sorted(u, key=lambda r: r.rank)] == [1, 2]
    assert all(r.share_ppm == 250_000 for r in u)
    # degenerate: one key -> hhi = 1e6, max share = 1e6
    one = spark.createDataFrame([(7,)] * 9, "k int")
    o = key_skew_profile(one, ["k"]).collect()
    assert len(o) == 1 and o[0].hhi_ppm == 1_000_000 and o[0].max_share_ppm == 1_000_000
    # skewed: 96 rows of one key + 4 singles -> that key leads ranking
    sk = spark.createDataFrame([(0,)] * 96 + [(i,) for i in range(1, 5)], "k int")
    s = sorted(key_skew_profile(sk, ["k"], top_k=3).collect(), key=lambda r: r.rank)
    assert s[0].k == 0 and s[0].share_ppm == 960_000
    assert s[0].hhi_ppm > 900_000


def test_skew_advice_branches(spark):
    """The pre-flight advisory on a synthetic skewed corpus: a dominant
    key gets salt(k) with k = ceil(cnt·P/total), a fair-share key gets
    'ok', and a small distinct-key table short-circuits to 'broadcast'
    regardless of skew."""
    from dabstract_spark.operators.skew import skew_advice

    # 64 rows of hot key + 32 singletons = 96 rows, P=8 partitions:
    # hot needs ceil(64*8/96) = 6 salts; singles ceil(8/96) = 1 -> ok
    rows = [("hot",)] * 64 + [(f"u{i}",) for i in range(32)]
    df = spark.createDataFrame(rows, "k string")
    out = {
        r.k: r
        for r in skew_advice(
            df, ["k"], n_partitions=8, broadcast_max_keys=2, top_k=3
        ).collect()
    }
    assert out["hot"].advice == "salt(6)" and out["hot"].n_salts == 6
    assert all(r.advice == "ok" for k, r in out.items() if k != "hot")
    # 33 distinct keys <= broadcast_max_keys=100 -> broadcast wins even
    # for the hot key (no shuffle of the big side at all)
    bc = skew_advice(df, ["k"], n_partitions=8, broadcast_max_keys=100, top_k=3)
    assert all(r.advice == "broadcast" for r in bc.collect())


def test_token_budget_null_token_inherits_earlier_bucket_offset(spark):
    """Regression (r9 ADVICE): a NULL-token row whose bucket-local prefix
    is all-NULL must still inherit earlier buckets' non-NULL offset —
    the naive window gives it the prior non-NULL prefix sum and keeps
    it; the pre-fix two-level form produced NULL cum and dropped it.
    And a row whose ENTIRE inclusive prefix is NULL must drop in both
    forms (NULL cum)."""
    from dabstract_spark.operators.select import token_budget_per_group

    # k spans [0, 50] -> 256 value-range buckets: k=0 lands in bucket 0,
    # k=50 in bucket 255 (all-NULL bucket-local prefix for row 2)
    df = spark.createDataFrame(
        [(0, "g", 0, 5), (1, "g", 50, None), (2, "h", 0, None)],
        "row_id long, grp string, k long, tok long",
    )
    out = {
        r.row_id: r.cum_tokens
        for r in token_budget_per_group(
            df, "grp", "tok", [F.asc("k"), F.asc("row_id")], budget=100,
            order_key="k",
        ).collect()
    }
    # row 1: cum = 5 (earlier bucket's offset, own NULL token skipped)
    assert out == {0: 5, 1: 5}  # row 2 (all-NULL prefix) dropped


def test_funnel_cap_truncation_is_observable(spark):
    """Regression (r8 ADVICE follow-through): when max_events actually
    truncates a key, the opt-in audit column must say so — a >cap
    synthetic user flags True (and its funnel may legitimately
    under-report), everyone else False, including users with no stage
    events at all. Default call keeps the 3-column schema."""
    from pyspark.sql import Row
    from datetime import datetime

    from dabstract_spark.operators.events import funnel_stages

    ts = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = (
        # bot: 5 views then a click — cap 3 hides the click
        [Row(event_id=i, user_id="bot", event_type="view", ts=ts(i)) for i in range(5)]
        + [Row(event_id=9, user_id="bot", event_type="click", ts=ts(9))]
        # human: view then click, under cap
        + [
            Row(event_id=10, user_id="h", event_type="view", ts=ts(1)),
            Row(event_id=11, user_id="h", event_type="click", ts=ts(2)),
        ]
        # lurker: only non-stage events
        + [Row(event_id=12, user_id="z", event_type="scroll", ts=ts(1))]
    )
    df = spark.createDataFrame(rows)
    out = {
        r.user_id: (r.stage_reached, r.capped)
        for r in funnel_stages(
            df, max_events=3, truncated_col="capped"
        ).collect()
    }
    assert out == {"bot": (1, True), "h": (2, False), "z": (0, False)}
    # default schema unchanged
    cols = funnel_stages(df, max_events=3).columns
    assert cols == ["user_id", "stage_reached", "t_first_stage"]
    # truncated_col without a cap is a contract error
    import pytest

    with pytest.raises(ValueError):
        funnel_stages(df, max_events=None, truncated_col="capped")


def test_loop_actions_restores_unset_conf_by_unsetting(spark):
    """A conf that was unset before a fixed-point loop is unset again
    after it (not pinned to its read-back default), and a set conf gets
    its own value back."""
    from dabstract_spark.core import loop_actions

    sp, aqe = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
    saved = {k: spark.conf.get(k, None) for k in (sp, aqe)}
    try:
        spark.conf.unset(sp)
        spark.conf.set(aqe, "true")
        with loop_actions(spark):
            assert spark.conf.get(sp, None) is not None
            assert spark.conf.get(aqe) == "false"
        assert spark.conf.get(sp, None) is None
        assert spark.conf.get(aqe) == "true"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
