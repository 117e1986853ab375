"""Unit tests for the round-4 curation/layout operators: paragraph
dedup, token-budget quota sampling, funnel stages, time-grid fill,
rolling range aggregates, TF-DF cosine pairs, and Z-order layout."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from dabstract_spark.operators.dedup import paragraph_dedup
from dabstract_spark.operators.events import (
    funnel_stages,
    rolling_range_agg,
    time_grid_fill,
)
from dabstract_spark.operators.layout import zorder_value, zorder_write
from dabstract_spark.operators.select import token_budget_per_group
from dabstract_spark.operators.text import tfdf_cosine_pairs


def test_paragraph_dedup_keep_first_and_all_dup_doc(spark):
    sep = "\n\n"
    docs = spark.createDataFrame(
        [
            (1, sep.join(["alpha", "boiler", "beta"])),
            (2, sep.join(["boiler", "gamma"])),  # boiler dies (first seen in doc 1)
            (3, sep.join(["alpha", "boiler"])),  # ALL paragraphs are dups
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert (out[1].n_paras, out[1].n_kept) == (3, 3)
    assert (out[2].n_paras, out[2].n_kept) == (2, 1)
    assert (out[3].n_paras, out[3].n_kept) == (2, 0)
    # doc 3's reassembly is the empty string, not NULL
    import hashlib

    assert out[3].cleaned_md5 == hashlib.md5(b"").hexdigest()
    assert out[2].cleaned_md5 == hashlib.md5(b"gamma").hexdigest()


def test_paragraph_dedup_null_text_passthrough(spark):
    docs = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in paragraph_dedup(docs).collect()}
    assert out[1].n_paras == 1  # null coalesces to one empty paragraph
    assert out[2].n_kept == 1


def test_token_budget_per_group_inclusive_boundary(spark):
    df = spark.createDataFrame(
        [("a", 1, 40), ("a", 2, 40), ("a", 3, 40), ("b", 4, 100)],
        "g string, id bigint, tok bigint",
    )
    out = token_budget_per_group(df, "g", "tok", ["id"], budget=80)
    kept = sorted(r.id for r in out.collect())
    # a: 40, 80 kept; 120 crosses. b: 100 > 80 -> dropped entirely
    assert kept == [1, 2]


def test_token_budget_per_group_requires_order_key_for_exprs(spark):
    import pytest

    df = spark.createDataFrame([("a", 1, 1)], "g string, id bigint, tok bigint")
    # a Column/sort-expression primary order needs an explicit monotone
    # order_key; silently guessing would risk a wrong (non-aligned) bucket
    with pytest.raises(ValueError, match="order_key"):
        token_budget_per_group(df, "g", "tok", [F.col("id").desc()], budget=1)


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 0, minute)


def test_funnel_stages_strict_ordering_and_ties(spark):
    rows = [
        # user 1: full funnel in order
        (1, _ts(0), 1, "view"), (2, _ts(1), 1, "click"), (3, _ts(2), 1, "purchase"),
        # user 2: click BEFORE any view -> stage 1 only (view at t=1)
        (4, _ts(0), 2, "click"), (5, _ts(1), 2, "view"),
        # user 3: click at the SAME ts as first view -> not after -> stage 1
        (6, _ts(0), 3, "view"), (7, _ts(0), 3, "click"),
        # user 4: never views -> stage 0, no t_first_stage
        (8, _ts(0), 4, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    out = {r.user_id: r for r in funnel_stages(df).collect()}
    assert out[1].stage_reached == 3
    assert out[2].stage_reached == 1
    assert out[3].stage_reached == 1
    assert out[4].stage_reached == 0
    assert out[4].t_first_stage is None
    assert out[1].t_first_stage == _ts(0)


def test_funnel_nonstage_user_and_bot_cap(spark):
    """A user with only non-stage events still gets a stage-0 row (the
    pre-filter + distinct-user left join path), and ``max_events``
    bounds the per-user collected array for a synthetic bot while
    leaving the funnel of early progressions intact."""
    rows = [(1, _ts(0), 9, "scroll")]  # user 9: no stage events at all
    # user 5 (bot): view+click in the first minute, then 500 purchases
    rows += [(10, _ts(0), 5, "view"), (11, _ts(1), 5, "click")]
    rows += [(100 + i, _ts(2 + i % 50), 5, "purchase") for i in range(500)]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    out = {r.user_id: r for r in funnel_stages(df, max_events=10).collect()}
    assert out[9].stage_reached == 0 and out[9].t_first_stage is None
    # the bot's first 10 stage events include view, click, purchase
    assert out[5].stage_reached == 3
    # the cap really bounds the collected array: rank-filter keeps the
    # earliest 10 stage events, so the fold saw <= 10 elements
    capped = funnel_stages(df, max_events=3).collect()
    assert {r.user_id for r in capped} == {5, 9}


def test_time_grid_fill_forward_fill_and_leading_null(spark):
    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 30), 7, 10.0),
        (2, datetime.datetime(2024, 1, 1, 2, 30), 7, 20.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    out = sorted(time_grid_fill(df, step_sec=3600).collect(), key=lambda r: r.bucket_ts)
    # grid 00:00, 01:00, 02:00: nothing at-or-before 00:00, then 10.0 twice
    assert [r.value_ff for r in out] == [None, 10.0, 10.0]


def test_rolling_range_agg_includes_boundary(spark):
    t0 = datetime.datetime(2024, 1, 1, 0, 0)
    rows = [
        (1, t0, 7, 1.0),
        (2, t0 + datetime.timedelta(seconds=3600), 7, 2.0),   # exactly 1h later: in range
        (3, t0 + datetime.timedelta(seconds=7201), 7, 4.0),   # >1h after event 2: alone
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )
    out = {r.event_id: r for r in rolling_range_agg(df, window_sec=3600).collect()}
    assert out[1].n_trailing == 1
    assert out[2].n_trailing == 2 and out[2].sum_trailing == 3.0
    assert out[3].n_trailing == 1


def test_tfdf_cosine_identical_docs_score_one(spark):
    docs = spark.createDataFrame(
        [(1, "red green blue"), (2, "red green blue"), (3, "entirely different words here")],
        "doc_id bigint, text string",
    )
    out = tfdf_cosine_pairs(docs, "doc_id", "text", max_df=10, threshold=0.9)
    got = {(r.id_a, r.id_b): r.sim for r in out.collect()}
    assert got == {(1, 2): 1.0}


def test_zorder_value_reference_bits(spark):
    # x=0b11, y=0b01 -> z = 1<<0 | 1<<2 | 1<<1 = 0b0111 = 7
    row = spark.range(1).select(
        zorder_value(F.lit(3), F.lit(1), bits=2).alias("z")
    ).collect()[0]
    assert row.z == 7


def test_zorder_write_bounds_both_columns(spark, tmp_path):
    import itertools

    rows = [(x, y) for x, y in itertools.product(range(32), range(32))]
    df = spark.createDataFrame(rows, "x int, y int").repartition(8)
    path = str(tmp_path / "zorded")
    zorder_write(df, path, ("x", "y"), bits=5, num_files=8)
    # each written file must cover a LIMITED range of BOTH dimensions —
    # the whole point of interleaving vs a plain sort on x
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name())
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .collect()
    )
    assert len(per_file) >= 4
    for r in per_file:
        assert r.sx <= 16 and r.sy <= 16, (r.sx, r.sy)


def test_chunk_text_overlap_and_short_doc(spark):
    from dabstract_spark.operators.text import chunk_text

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "only three words")],
        "doc_id bigint, text string",
    )
    out = chunk_text(docs, "doc_id", "text", window=4, stride=2)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_id))
    d1 = [r for r in rows if r.doc_id == 1]
    # starts 1,3,5,7,9 -> full 4-token chunks at 1,3,5,7; tail at 9 dropped
    assert [r.chunk_id for r in d1] == [0, 1, 2, 3]
    assert all(r.n_tokens == 4 for r in d1)
    d2 = [r for r in rows if r.doc_id == 2]
    # short doc keeps its single fragment
    assert len(d2) == 1 and d2[0].n_tokens == 3


def test_merge_into_actions(spark):
    from dabstract_spark.operators.quality import merge_into

    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k bigint, v double"
    )
    source = spark.createDataFrame(
        [(2, 99.0), (3, 30.0), (4, 40.0)], "k bigint, v double"
    )
    out = {r.k: r for r in merge_into(target, source, "k", ["v"]).collect()}
    assert (out[1].v, out[1].action) == (10.0, "unchanged")  # target-only
    assert (out[2].v, out[2].action) == (99.0, "update")
    assert (out[3].v, out[3].action) == (30.0, "unchanged")  # matched, equal
    assert (out[4].v, out[4].action) == (40.0, "insert")


def test_maintain_rollup_matches_recompute(spark):
    from dabstract_spark.operators.quality import maintain_rollup

    base = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0), (3, 7.0)], "g bigint, v double"
    )
    view = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v")
    )
    # update g=1's 10.0 -> 11.0 (delete+insert pair), delete g=3's only
    # row (group must vanish), insert a brand-new group g=4
    delta = spark.createDataFrame(
        [
            ("delete", 1, 10.0),
            ("insert", 1, 11.0),
            ("delete", 3, 7.0),
            ("insert", 4, 42.0),
        ],
        "op string, g bigint, v double",
    )
    out = {r.g: r for r in maintain_rollup(view, delta, ["g"], ["v"]).collect()}
    assert set(out) == {1, 2, 4}  # g=3 dropped at cnt 0
    assert (out[1].cnt, out[1].sum_v) == (2, 31.0)
    assert (out[2].cnt, out[2].sum_v) == (1, 5.0)  # untouched group survives
    assert (out[4].cnt, out[4].sum_v) == (1, 42.0)  # group born from delta

    # empty delta is the identity
    empty = spark.createDataFrame([], "op string, g bigint, v double")
    same = {r.g: r for r in maintain_rollup(view, empty, ["g"], ["v"]).collect()}
    assert {g: (r.cnt, r.sum_v) for g, r in same.items()} == {
        r.g: (r.cnt, r.sum_v) for r in view.collect()
    }


def test_apply_rollup_delta_batch_boundary_independent(spark):
    """Summed per-batch signed partials applied once == applying the
    whole delta directly — the claim the streaming maintainer rests on."""
    from dabstract_spark.operators.quality import apply_rollup_delta, maintain_rollup

    base = spark.createDataFrame(
        [(1, 10.0), (1, 20.0), (2, 5.0)], "g bigint, v double"
    )
    view = base.groupBy("g").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("sum_v")
    )
    delta = spark.createDataFrame(
        [("delete", 1, 10.0), ("insert", 1, 11.0), ("insert", 3, 9.0)],
        "op string, g bigint, v double",
    )
    direct = {
        r.g: (r.cnt, r.sum_v)
        for r in maintain_rollup(view, delta, ["g"], ["v"]).collect()
    }
    # split the delta into two "micro-batches", aggregate each to its
    # signed partial, then merge partials by summing
    sign = F.when(F.col("op") == "insert", 1).otherwise(-1)

    def partial(df):
        return df.groupBy("g").agg(
            F.sum(sign).alias("dcnt"), F.sum(sign * F.col("v")).alias("d_v")
        )

    b1 = partial(delta.limit(1))
    b2 = partial(delta.subtract(delta.limit(1)))
    merged = (
        b1.unionByName(b2)
        .groupBy("g")
        .agg(F.sum("dcnt").alias("dcnt"), F.sum("d_v").alias("d_v"))
    )
    streamed = {
        r.g: (r.cnt, r.sum_v)
        for r in apply_rollup_delta(view, merged, ["g"], ["v"]).collect()
    }
    assert streamed == direct


def test_change_intervals_collapse_and_current(spark):
    from dabstract_spark.operators.events import change_intervals

    t0 = datetime.datetime(2024, 1, 1)

    def ts(m):
        return t0 + datetime.timedelta(minutes=m)

    rows = [
        (1, ts(0), 7, "a"), (2, ts(1), 7, "a"),  # run of a collapses
        (3, ts(2), 7, "b"), (4, ts(3), 7, "a"),  # back to a = NEW interval
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    out = sorted(change_intervals(df).collect(), key=lambda r: r.valid_from)
    assert [(r.state, r.is_current) for r in out] == [
        ("a", False), ("b", False), ("a", True)
    ]
    assert out[0].valid_to == ts(2) and out[1].valid_to == ts(3)


def test_semantic_dedup_within_cluster_only(spark):
    from dabstract_spark.operators.similarity import semantic_dedup

    # two orthogonal cluster directions; 1 and 2 are near-identical
    rows = [
        (1, [1.0, 0.0]), (2, [0.999, 0.01]),  # same cluster, near-dup
        (3, [0.0, 1.0]),                       # other cluster
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    out = {r.vec_id: r for r in semantic_dedup(df, cents, threshold=0.95).collect()}
    assert out[1].keep is True
    assert out[2].keep is False  # dropped against lower-id 1
    assert out[3].keep is True


def test_substring_dedup_spans_and_merge(spark):
    from dabstract_spark.operators.text import substring_dedup

    phrase = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, f"{phrase} unique one"),
        (2, f"{phrase} unique two"),
        (3, f"{phrase} {phrase}"),          # within-doc repeat: adjacent spans merge
        (4, "short doc"),                    # < k tokens: untouched
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
        for r in substring_dedup(df, "doc_id", "text", k=8, min_df=2).collect()
    }
    # the 8-token phrase occurs 4 times corpus-wide -> removed
    # everywhere; the pos-2 shingle "...theta unique" ALSO repeats
    # across d1/d2, extending their spans one token further
    assert got[1] == (10, 9, "one")
    assert got[2] == (10, 9, "two")
    # d3: spans [1,9) and [9,17) merge -> everything removed
    assert got[3] == (16, 16, "")
    assert got[4] == (2, 0, "short doc")


def test_bigram_coherence_exact_values_and_short_docs(spark):
    from dabstract_spark.operators.text import bigram_coherence

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),   # bigrams: (a,b)x3, (b,a)x2
            (2, "a b"),           # one bigram
            (3, "solo"),          # no bigram -> dropped
            (4, ""),              # empty -> dropped
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in bigram_coherence(df).collect()}
    assert set(rows) == {1, 2}
    # corpus counts: c2(a,b)=4, c2(b,a)=2, ctx(a)=4, ctx(b)=2
    # doc1: 3*(1e6*4//4) + 2*(1e6*2//2) = 5e6; avg over 5 = 1e6
    assert rows[1].n_bigrams == 5 and rows[1].coherence_ppm == 1_000_000
    assert rows[2].n_bigrams == 1 and rows[2].coherence_ppm == 1_000_000


def test_pca_power_projection_matches_integer_reference(spark):
    import numpy as np

    from dabstract_spark.operators.similarity import pca_power_projection

    rng = np.random.default_rng(7)
    # dominant variance along dim 0, noise elsewhere
    vecs = [
        [float(rng.normal(0, 5.0)), float(rng.normal(0, 0.1)), float(rng.normal(0, 0.1))]
        for _ in range(40)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    got = {r.vec_id: r.proj_micro for r in pca_power_projection(df, iters=3).collect()}

    # independent driver-side replica of the exact integer algorithm
    x = [[round(c, 6) for c in v] for v in vecs]
    xi = [[int(round(c * 1e6)) for c in v] for v in x]
    n, dim = len(xi), 3
    s2 = [[sum(r[i] * r[j] for r in xi) for j in range(dim)] for i in range(dim)]
    s1 = [sum(r[i] for r in xi) for i in range(dim)]
    m = [[n * s2[i][j] - s1[i] * s1[j] for j in range(dim)] for i in range(dim)]
    fd = lambda u, d: -((-u) // d) if u < 0 else u // d  # noqa: E731
    v = [1000000] * dim
    for _ in range(3):
        u = [sum(m[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(abs(t) for t in u) or 1
        v = [fd(t * 1000000, mx) for t in u]
    want = {i: fd(sum(xi[i][j] * v[j] for j in range(dim)), 1000000) for i in range(n)}
    assert got == want
    # and the dominant axis really is dim 0: projection ~ x0 * v0
    assert abs(v[0]) == 1000000


def test_containment_short_doc_quoted_in_long(spark):
    from dabstract_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta"
    long = "intro words here " + short + " plus a very long unrelated tail " + \
        "with many extra tokens that dilute the union badly " * 3
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "совершенно unrelated text entirely")],
        ["doc_id", "text"],
    )
    rows = containment_pairs(df, "doc_id", "text", k=2, threshold_ppm=900000).collect()
    assert len(rows) == 1
    r = rows[0]
    # doc 1's shingles are all inside doc 2 -> containment_a = 1.0
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.contain_a_ppm == 1_000_000
    assert r.contain_b_ppm < 500_000


def test_heavy_hitter_pruning_recovers_exact_topk(spark):
    """q177's correctness depends on the md5-sampled candidate set
    containing the true top-10 — verify on randomized zipf-ish corpora,
    not just the fixtures."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dabstract_spark.functions.hashing import md5_unit
    from dabstract_spark.operators.text import tokens

    for seed in (11, 23):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(120)]
        weights = [1.0 / (i + 1) for i in range(120)]  # zipf
        docs = [
            (i, " ".join(rng.choices(vocab, weights=weights, k=40)))
            for i in range(200)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        tok_all = df.select("doc_id", F.explode(tokens("text")).alias("token"))
        exact = (
            tok_all.groupBy("token").count()
            .orderBy(F.desc("count"), F.asc("token")).limit(10).collect()
        )
        samp = df.filter(
            md5_unit(F.concat(F.lit("hh/"), F.col("doc_id").cast("string")), 7) < 0.25
        ).select(F.explode(tokens("text")).alias("token"))
        cand = (
            samp.groupBy("token").count()
            .orderBy(F.desc("count"), F.asc("token")).limit(50).select("token")
        )
        pruned = (
            tok_all.join(F.broadcast(cand), "token")
            .groupBy("token").agg(F.count(F.lit(1)).alias("count"))
            .orderBy(F.desc("count"), F.asc("token")).limit(10).collect()
        )
        assert [(r.token, r['count']) for r in pruned] == [
            (r.token, r['count']) for r in exact
        ], f"seed {seed}: pruning lost a true heavy hitter"


def test_training_order_is_permutation_and_sharded(spark):
    from dabstract_spark.operators.select import training_order

    df = spark.createDataFrame([(i, f"d{i}") for i in range(100)], "id bigint, v string")
    out = training_order(df, "id", seed=3, n_shards=8)
    rows = out.collect()
    # dense permutation of 0..n-1
    assert sorted(r["pos"] for r in rows) == list(range(100))
    # round-robin shards are balanced to within one row BY CONSTRUCTION
    from collections import Counter

    sizes = Counter(r["shard"] for r in rows)
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # seed-reproducible, and a different seed yields a different order
    again = {r["id"]: r["pos"] for r in training_order(df, "id", seed=3).collect()}
    assert again == {r["id"]: r["pos"] for r in rows}
    other = {r["id"]: r["pos"] for r in training_order(df, "id", seed=4).collect()}
    assert other != again
    # the md5 order is not the identity (it actually shuffles)
    assert [r["pos"] for r in sorted(rows, key=lambda r: r["id"])] != list(range(100))


def test_dedup_lines_keeps_first_occurrence_and_is_idempotent(spark):
    from dabstract_spark.operators.text import dedup_lines_df

    docs = spark.createDataFrame(
        [
            (1, "a\nb\na\nc\nb"),  # repeats of a and b dropped
            (2, "x\ny"),  # no dups: unchanged
            (3, "z\nz\nz"),  # all-same: one survivor
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines_df(docs, "doc_id", "text").collect()}
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (5, 3)
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (2, 2)
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (3, 1)
    import hashlib

    assert out[1]["cleaned_md5"] == hashlib.md5(b"a\nb\nc").hexdigest()
    # idempotent: running the pass over cleaned text changes nothing
    cleaned = spark.createDataFrame([(1, "a\nb\nc")], "doc_id bigint, text string")
    again = dedup_lines_df(cleaned, "doc_id", "text").collect()[0]
    assert again["n_kept"] == 3 and again["cleaned_md5"] == out[1]["cleaned_md5"]


def test_source_overlap_identical_and_disjoint_groups(spark):
    from dabstract_spark.operators.dedup import source_overlap

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [
            (1, "s1", text_a),
            (2, "s1", text_a + " iota"),
            (3, "s2", text_a),  # s2 union == s1's first doc -> high overlap
            (4, "s3", text_b),  # disjoint vocabulary -> zero overlap
            (5, "s4", "tiny"),  # < k tokens: group drops out entirely
        ],
        "doc_id bigint, source string, text string",
    )
    out = {
        (r["group_a"], r["group_b"]): r
        for r in source_overlap(docs, "source", "doc_id", "text", n_hashes=16).collect()
    }
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    # s3 shares no shingles with anyone
    assert out[("s1", "s3")]["n_agree"] == 0 and out[("s2", "s3")]["n_agree"] == 0
    # s2's shingle set is a large subset of s1's union; most mins agree
    r = out[("s1", "s2")]
    assert r["n_agree"] >= 12 and abs(r["jaccard_est"] - r["n_agree"] / 16) < 1e-12


def test_group_signature_merge_is_boundary_independent(spark):
    from dabstract_spark.operators.dedup import (
        group_signatures,
        merge_group_signatures,
        overlap_from_signatures,
    )

    docs = spark.createDataFrame(
        [
            (i, f"s{i % 3}", f"alpha beta gamma doc {i} token{i % 7} more words here")
            for i in range(30)
        ],
        "doc_id bigint, source string, text string",
    )
    full = group_signatures(docs, "source", "doc_id", "text")
    # split on an arbitrary boundary; merged partials must equal the
    # one-shot signature EXACTLY (elementwise min commutes)
    p1 = group_signatures(docs.filter("doc_id < 11"), "source", "doc_id", "text")
    p2 = group_signatures(docs.filter("doc_id >= 11"), "source", "doc_id", "text")
    merged = merge_group_signatures(p1.unionByName(p2))
    a = {r["__grp"]: tuple(r)[1:] for r in full.collect()}
    b = {r["__grp"]: tuple(r)[1:] for r in merged.collect()}
    assert a == b
    # and so do the overlap matrices built from them
    oa = sorted(tuple(r) for r in overlap_from_signatures(full).collect())
    ob = sorted(tuple(r) for r in overlap_from_signatures(merged).collect())
    assert oa == ob


def test_dataset_facades_for_r6_ops(spark):
    from dabstract_spark.dataset import Dataset

    df = spark.createDataFrame(
        [
            (0, "a\nb\na", "s1"),
            (1, "x\ny", "s1"),
            (2, "alpha beta gamma delta words enough here", "s2"),
        ],
        "row_id long, text string, src string",
    )
    ds = Dataset(df, name="t")
    ordered = ds.training_order(seed=1, n_shards=2)
    got = ordered.full_df.select("row_id", "pos", "shard").collect()
    # pos/shard are ATTACHED: the row_id identity column survives intact
    assert sorted(r["row_id"] for r in got) == [0, 1, 2]
    assert sorted(r["pos"] for r in got) == [0, 1, 2]
    assert all(r["shard"] == r["pos"] % 2 for r in got)
    cleaned = ds.dedup_lines()
    texts = {r["row_id"]: r["text"] for r in cleaned.full_df.collect()}
    assert texts[0] == "a\nb" and texts[1] == "x\ny"
    # report facade returns a plain DataFrame of pair estimates
    rep = ds.source_overlap("src")
    assert set(rep.columns) == {"group_a", "group_b", "n_agree", "jaccard_est"}


def test_extend_training_order_appends_without_moving_base(spark):
    from dabstract_spark.operators.select import extend_training_order, training_order

    df = spark.createDataFrame([(i,) for i in range(20)], "id bigint")
    base = training_order(df.filter("id < 12"), "id", seed=5)
    before = {r["id"]: r["pos"] for r in base.collect()}
    new = extend_training_order(base, df.filter("id >= 12"), "id", seed=5, n_shards=4)
    got = new.collect()
    # new rows continue after the base: positions are exactly 12..19
    assert sorted(r["pos"] for r in got) == list(range(12, 20))
    assert all(r["shard"] == r["pos"] % 4 for r in got)
    # base positions are untouched by construction (base is an input,
    # not recomputed) — and the union is a dense 0..n-1 permutation
    after = {r["id"]: r["pos"] for r in base.collect()}
    assert after == before
    union = base.unionByName(new.drop("shard")).collect()
    assert sorted(r["pos"] for r in union) == list(range(20))
    # empty base: offset coalesces to 0
    empty = base.filter("pos < 0")
    fresh = extend_training_order(empty, df.filter("id < 3"), "id", seed=5)
    assert sorted(r["pos"] for r in fresh.collect()) == [0, 1, 2]


def test_extend_training_order_custom_pos_col(spark):
    """A non-default pos_col yields exactly ONE position column (no
    duplicate-named schema) and the shard derives from the offset
    position — with and without n_shards."""
    from dabstract_spark.operators.select import extend_training_order, training_order

    df = spark.createDataFrame([(i,) for i in range(16)], "id bigint")
    base = training_order(df.filter("id < 10"), "id", seed=3).withColumnRenamed(
        "pos", "ord"
    )
    new = extend_training_order(base, df.filter("id >= 10"), "id", seed=3, pos_col="ord")
    assert new.columns.count("ord") == 1 and "pos" not in new.columns
    assert sorted(r["ord"] for r in new.collect()) == list(range(10, 16))
    sharded = extend_training_order(
        base, df.filter("id >= 10"), "id", seed=3, pos_col="ord", n_shards=4
    )
    got = sharded.collect()
    assert sharded.columns.count("ord") == 1
    assert all(r["shard"] == r["ord"] % 4 for r in got)


def test_funnel_default_cap_is_on_and_output_invisible(spark):
    """max_events now DEFAULTS to 10⁶ (bot-grade arrays bounded by
    construction); for any human-scale user the default is
    output-identical to the explicit opt-out."""
    import inspect

    assert inspect.signature(funnel_stages).parameters["max_events"].default == 1_000_000
    rows = [
        (1, _ts(0), 1, "view"),
        (2, _ts(1), 1, "click"),
        (3, _ts(2), 1, "purchase"),
        (4, _ts(0), 2, "click"),  # click before any view: stage 0
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    )
    dflt = sorted(funnel_stages(df).collect())
    uncapped = sorted(funnel_stages(df, max_events=None).collect())
    assert dflt == uncapped
    assert {r.user_id: r.stage_reached for r in dflt} == {1: 3, 2: 0}


def test_chunk_manifest_segments_tile_each_chunk(spark):
    from dabstract_spark.operators.packing import chunk_manifest, sequence_pack

    # docs of 5,3,0,4 tokens, capacity 4: stream cuts at 4 and 8
    df = spark.createDataFrame(
        [(1, 5), (2, 3), (3, 0), (4, 4)], "doc_id bigint, tok bigint"
    )
    packed = sequence_pack(df, "doc_id", "tok", capacity=4)
    out = sorted(
        chunk_manifest(packed, "doc_id", capacity=4).collect(),
        key=lambda r: (r["chunk"], r["seg_start"], r["doc_id"]),
    )
    rows = [(r["doc_id"], r["chunk"], r["seg_start"], r["seg_end"]) for r in out]
    # doc1 tokens 0-4 -> chunk0 [0,4), chunk1 [0,1); doc2 5-7 -> chunk1 [1,4);
    # doc3 empty at 8 -> chunk2 [0,0); doc4 8-11 -> chunk2 [0,4)
    assert rows == [
        (1, 0, 0, 4),
        (1, 1, 0, 1),
        (2, 1, 1, 4),
        (3, 2, 0, 0),
        (4, 2, 0, 4),
    ]
    # within every chunk, non-empty segments tile it without gap/overlap
    from collections import defaultdict

    by_chunk = defaultdict(list)
    for d, c, s, e in rows:
        if e > s:
            by_chunk[c].append((s, e))
    for c, segs in by_chunk.items():
        segs.sort()
        for (s1, e1), (s2, e2) in zip(segs, segs[1:]):
            assert e1 == s2


def test_snapshot_diff_statuses_and_null_digest(spark):
    """All four statuses classify correctly, and presence is read off
    the key side: a row present in both snapshots with a NULL
    fingerprint is 'unchanged' (null-safe compare), never 'added'."""
    from dabstract_spark.operators.layout import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)], "k int, t string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (5, "e"), (4, None)], "k int, t string"
    )
    out = {r.k: r.status for r in snapshot_diff(old, new, "k", F.md5("t")).collect()}
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        5: "added",
        4: "unchanged",
    }


def test_shard_manifest_partitioning_invariant_and_sensitive(spark):
    """The manifest is identical under any physical partitioning (order-
    independent checksums) and any single-row content change moves
    exactly one shard's checksum."""
    from dabstract_spark.operators.layout import shard_manifest

    rows = [(i, f"doc {i}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(map(tuple, shard_manifest(df.repartition(7), "doc_id", F.md5("text"), 16).collect()))
    b = sorted(map(tuple, shard_manifest(df.coalesce(1), "doc_id", F.md5("text"), 16).collect()))
    assert a == b

    mutated = df.withColumn(
        "text", F.when(F.col("doc_id") == 42, F.lit("tampered")).otherwise(F.col("text"))
    )
    c = sorted(map(tuple, shard_manifest(mutated, "doc_id", F.md5("text"), 16).collect()))
    diff = [(x, y) for x, y in zip(a, c) if x != y]
    assert len(diff) == 1
    (x, y), = diff
    assert x[0] == y[0] and x[1] == y[1] and x[2] != y[2]


def test_dataset_facades_for_snapshot_and_linkage(spark):
    from dabstract_spark.dataset import Dataset

    old = Dataset(
        spark.createDataFrame(
            [(0, "alpha doc"), (1, "beta doc"), (2, "gone doc")],
            "row_id long, text string",
        ),
        name="old",
    )
    new = Dataset(
        spark.createDataFrame(
            [(0, "alpha doc"), (1, "beta doc v2"), (3, "fresh doc")],
            "row_id long, text string",
        ),
        name="new",
    )
    d = {r.row_id: r.status for r in old.snapshot_diff(new).collect()}
    assert d == {0: "unchanged", 1: "changed", 2: "removed", 3: "added"}

    man = old.shard_manifest(n_shards=4)
    assert set(man.columns) == {"shard", "n_rows", "checksum"}
    assert sum(r.n_rows for r in man.collect()) == 3

    linked = old.fuzzy_link(new, max_dist=3)
    pairs = {(r.row_id, r.other_row_id) for r in linked.collect()}
    assert (0, 0) in pairs and (1, 1) in pairs


def test_curriculum_order_stage_major_md5_within(spark):
    import hashlib

    from dabstract_spark.operators.select import curriculum_order, training_order

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(90)], "id bigint, stage int"
    )
    rows = curriculum_order(df, "stage", "id", seed=5, n_shards=4).collect()
    # dense permutation, stage-major: every stage-s pos < every stage-(s+1) pos
    assert sorted(r["pos"] for r in rows) == list(range(90))
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], []).append(r["pos"])
    assert max(by_stage[0]) < min(by_stage[1]) < max(by_stage[1]) < min(by_stage[2])
    # within a stage the order IS the seeded md5 shuffle (training_order's)
    def md5k(i):
        return hashlib.md5(f"5:{i}".encode()).hexdigest()

    for s, poss in by_stage.items():
        ids = [r["id"] for r in sorted(rows, key=lambda r: r["pos"]) if r["stage"] == s]
        assert ids == sorted(ids, key=lambda i: (md5k(i), i))
    # round-robin shard balance to within one row
    from collections import Counter

    sizes = Counter(r["shard"] for r in rows)
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # one stage degenerates to training_order's permutation semantics
    one = spark.createDataFrame([(i, 0) for i in range(40)], "id bigint, stage int")
    cur = {r["id"]: r["pos"] for r in curriculum_order(one, "stage", "id", seed=5).collect()}
    ref = {r["id"]: r["pos"] for r in training_order(one.drop("stage"), "id", seed=5).collect()}
    assert cur == ref
    # column-clash guard
    import pytest as _pytest

    with _pytest.raises(ValueError):
        curriculum_order(df.withColumn("pos", F.lit(0)), "stage", "id")


def test_curriculum_order_keeps_null_stage_and_null_key_rows(spark):
    """A row with a NULL stage or a NULL key keeps a position, and the
    positions stay a dense 0..n-1 bijection equal to the naive
    ``row_number() OVER (ORDER BY stage, md5(seed:key), key) - 1``: a
    NULL stage sorts first (Spark's ascending NULLS FIRST), and so does
    a NULL key's NULL md5 within its stage."""
    from pyspark.sql import Window

    from dabstract_spark.functions.hashing import md5_order
    from dabstract_spark.operators.select import curriculum_order

    df = spark.createDataFrame(
        [(1, 0), (2, None), (3, None), (None, 1), (5, 1), (6, 0)], "id bigint, stage int"
    )
    got = {r["id"]: r["pos"] for r in curriculum_order(df, "stage", "id", seed=3).collect()}
    w = Window.partitionBy(F.lit(0)).orderBy("stage", md5_order("id", 3), "id")
    naive = {
        r["id"]: r["pos"]
        for r in df.withColumn("pos", F.row_number().over(w) - 1).collect()
    }
    assert got == naive
    assert sorted(got.values()) == list(range(6))

def test_temperature_mixture_sqrt_exact_and_budget(spark):
    import math

    from dabstract_spark.operators.select import temperature_mixture

    # sources s0..s3 with perfect-square counts 1/4/9/16
    df = spark.createDataFrame(
        [(f"s{k}",) for k, c in enumerate([1, 4, 9, 16]) for _ in range(c)],
        "source string",
    )
    rows = {r["source"]: r for r in temperature_mixture(df, "source", budget=1000).collect()}
    # perfect squares: s_i = sqrt(n)·1e6 exactly, weights 1:2:3:4
    s = {k: math.isqrt(rows[k]["n"] * 10**12) for k in rows}
    tot = sum(s.values())
    for k, r in rows.items():
        assert r["weight_ppm"] == s[k] * 10**6 // tot
        assert r["draw"] == s[k] * 1000 // tot
        assert r["epochs_ppm"] == r["draw"] * 10**6 // r["n"]
    assert rows["s3"]["weight_ppm"] == 4 * 10**6 // 10  # 4/(1+2+3+4)
    # tail upweighting: smallest source's epochs > largest source's
    assert rows["s0"]["epochs_ppm"] > rows["s3"]["epochs_ppm"]
    # size_col (token-weighted) variant
    tdf = spark.createDataFrame(
        [("a", 9), ("a", 16), ("b", 100)], "source string, toks int"
    )
    trows = {r["source"]: r for r in temperature_mixture(tdf, "source", size_col="toks").collect()}
    assert trows["a"]["n"] == 25 and trows["b"]["n"] == 100
    assert trows["a"]["weight_ppm"] == 5 * 10**6 // 15


def test_gopher_rules_each_rule_fires(spark):
    from dabstract_spark.operators.text import gopher_rules

    good = "the cat sat of the mat and it is a fine day in the sun " * 3
    rows = [
        (0, good),                                  # passes everything
        (1, "the a of"),                            # too few words
        (2, "the " + "a " * 200),                   # mean word length too low
        (3, good + " ##### ### ## # ####"),         # symbol ratio
        (4, "- " + good.replace(" ", "\n- ")[:200]),  # bullet lines
        (5, "word " * 30),                          # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in gopher_rules(
            df, "doc_id", "text", min_words=10, max_words=100,
            min_wlen_ppm=2_000_000, max_wlen_ppm=8_000_000,
        ).collect()
    }
    assert out[0]["keep"]
    assert not out[1]["r_wordcount"]
    assert not out[2]["r_wordlen"]
    assert not out[3]["r_symbol"]
    assert not out[4]["r_bullet"]
    assert not out[5]["r_stopwords"]
    assert all(not out[k]["keep"] for k in (1, 2, 3, 4, 5))


def test_cohort_retention_toy_triangle(spark):
    import datetime as dt

    from dabstract_spark.operators.events import cohort_retention

    W = 604_800
    base = dt.datetime(2024, 1, 4, tzinfo=dt.timezone.utc)  # inside some epoch week

    def t(weeks):
        return base + dt.timedelta(seconds=weeks * W)

    # u1: weeks 0,1,2 · u2: weeks 0,2 · u3: week 1 only
    rows = [("u1", t(0)), ("u1", t(1)), ("u1", t(2)),
            ("u2", t(0)), ("u2", t(2)), ("u3", t(1))]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {(r["cohort"], r["offset"]): r for r in cohort_retention(df, "user_id").collect()}
    c0 = min(k[0] for k in out)
    assert out[(c0, 0)]["n_users"] == 2 and out[(c0, 0)]["cohort_size"] == 2
    assert out[(c0, 1)]["n_users"] == 1  # only u1 returned in week 1
    assert out[(c0, 2)]["n_users"] == 2
    assert out[(c0, 1)]["retention_ppm"] == 500_000
    assert out[(c0 + 1, 0)]["cohort_size"] == 1  # u3's own cohort


def test_ahash_invariance_and_hamming_pairs(spark):
    from dabstract_spark.sources.readers import ahash_neardup_pairs, with_ahash

    import numpy as np

    rng = np.random.RandomState(7)
    m1 = rng.rand(8, 8).round(6)
    m2 = rng.rand(8, 8).round(6)

    def rows(name, m, shift=0.0):
        return (name, [[float(x) + shift for x in row] for row in m])

    df = spark.createDataFrame(
        [rows("a", m1), rows("a_bright", m1, 0.015625), rows("b", m2)],
        "fname string, m array<array<double>>",
    )
    hashed = with_ahash(df, "m")
    hs = {r["fname"]: (r["ahash_w0"], r["ahash_w1"]) for r in hashed.collect()}
    # brightness invariance: identical words
    assert hs["a"] == hs["a_bright"]
    assert hs["a"] != hs["b"]
    assert all(0 <= w < 2**32 for pair in hs.values() for w in pair)
    pairs = ahash_neardup_pairs(
        hashed.select("fname", "ahash_w0", "ahash_w1"), "fname", max_hamming=3
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got == {("a", "a_bright"): 0}
    # radius guard: 4x16 banding is only exhaustive to hamming 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ahash_neardup_pairs(hashed, "fname", max_hamming=4)


def test_materialize_mixture_exact_draws_and_epochs(spark):
    from dabstract_spark.operators.select import (
        materialize_mixture,
        temperature_mixture,
    )

    df = spark.createDataFrame(
        [(i, f"s{k}") for k, c in enumerate([4, 16, 36]) for i in range(100 * k, 100 * k + c)],
        "doc_id long, source string",
    )
    budget = 100
    draws = {r.source: r.draw for r in temperature_mixture(df, "source", budget=budget).collect()}
    out = materialize_mixture(df, "source", "doc_id", budget=budget, seed=2).collect()
    # every source lands EXACTLY its draw; total == sum of draws
    from collections import Counter

    per_source = Counter(r.source for r in out)
    assert dict(per_source) == {k: v for k, v in draws.items() if v > 0}
    assert len(out) == sum(draws.values())
    # per doc: epochs are 0..copies-1 dense, copies in {floor, floor+1}
    per_doc = {}
    for r in out:
        per_doc.setdefault((r.source, r.doc_id), []).append(r.epoch)
    for (src, _), es in per_doc.items():
        n_src = {"s0": 4, "s1": 16, "s2": 36}[src]
        f = draws[src] // n_src
        assert sorted(es) == list(range(len(es)))
        assert len(es) in (f, f + 1)
    # deterministic
    again = materialize_mixture(df, "source", "doc_id", budget=budget, seed=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_span_corruption_nonoverlap_and_budget(spark):
    from dabstract_spark.operators.packing import span_corruption_manifest

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate([1, 2, 3, 19, 20, 60, 200])],
        "doc_id long, ntok long",
    )
    rows = span_corruption_manifest(df, "doc_id", "ntok", seed=1).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(7))  # every doc with n>0 emits spans
    for doc, spans in by_doc.items():
        n = spans[0].n_tokens
        spans = sorted(spans, key=lambda r: r.span_id)
        # spans inside the doc, end > start, non-overlapping in order
        prev_end = 0
        for s in spans:
            assert 0 <= s.start < s.end <= n
            assert s.start >= prev_end - 0  # strata are disjoint
            prev_end = s.end
        # span count = max(1, n * 0.15 / 3)
        assert len(spans) == max(1, n * 150000 // 3000000)
        # mask budget ~15%: each span is min(3, n) tokens
        for s in spans:
            assert s.end - s.start <= 3
    # deterministic
    again = span_corruption_manifest(df, "doc_id", "ntok", seed=1).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    # different seed moves spans for a big doc
    other = span_corruption_manifest(df, "doc_id", "ntok", seed=2).collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, rows))


def test_token_budget_per_group_rejects_non_numeric_order_key(spark):
    import pytest

    df = spark.createDataFrame(
        [("a", "9", 10), ("a", "10", 10)], "g string, name string, tok bigint"
    )
    # "10" < "9" lexicographically but 10 > 9 numerically: bucketing by
    # cast-to-double would disagree with the window's string sort, so a
    # non-numeric order key must raise instead of silently corrupting
    with pytest.raises(ValueError, match="numeric"):
        token_budget_per_group(df, "g", "tok", ["name", "g"], budget=10)


def test_theil_sen_trend_known_answer(spark):
    """Theil-Sen on hand-built daily counts: pairwise integer slopes,
    exact lower median, truncation-toward-zero on a negative slope, and
    single-bucket groups emit nothing."""
    from dabstract_spark.operators.events import theil_sen_trend

    rows = []
    # group a: day counts {0: 1, 1: 3, 2: 2} -> slopes 2e6, 5e5, -1e6
    for day, n in [(0, 1), (1, 3), (2, 2)]:
        rows += [("a", day)] * n
    # group b: one active day -> no pairs, no output row
    rows += [("b", 0)] * 4
    # group c: days {0: 2, 3: 1} -> one slope, -1000000 div 3 = -333333
    rows += [("c", 0), ("c", 0), ("c", 3)]
    df = spark.createDataFrame(rows, "g string, day int").select(
        "g", F.timestamp_seconds(F.col("day") * 86400 + 100).alias("ts")
    )
    out = {r.g: r for r in theil_sen_trend(df, "g", "ts").collect()}
    assert set(out) == {"a", "c"}
    a = out["a"]
    assert (a.n_buckets, a.n_pairs, a.slope_ppm_per_bucket) == (3, 3, 500_000)
    c = out["c"]
    assert (c.n_buckets, c.n_pairs, c.slope_ppm_per_bucket) == (2, 1, -333_333)


def test_lsh_parameter_plan_known_curve(spark):
    """S-curve at s = 0.5 for n_hashes = 4: (1,4) -> 62500 ppm,
    (2,2) -> 437500, (4,1) -> 937500 (hand-computed ladder); p is
    monotone in s for every factorization; invalid n_hashes raises."""
    import pytest

    from dabstract_spark.operators.dedup import lsh_parameter_plan

    out = {
        (r.bands, r.rows_per_band): r.p_collide_ppm
        for r in lsh_parameter_plan(spark, 4, s_grid_ppm=(500_000,)).collect()
    }
    assert out == {(1, 4): 62_500, (2, 2): 437_500, (4, 1): 937_500}

    curve = lsh_parameter_plan(spark, 8).collect()
    by_f = {}
    for r in curve:
        by_f.setdefault((r.bands, r.rows_per_band), []).append((r.s_ppm, r.p_collide_ppm))
    assert len(by_f) == 4  # 1x8, 2x4, 4x2, 8x1
    for pts in by_f.values():
        ps = [p for _, p in sorted(pts)]
        assert ps == sorted(ps) and 0 <= ps[0] and ps[-1] <= 1_000_000

    with pytest.raises(ValueError, match="n_hashes"):
        lsh_parameter_plan(spark, 0)


def test_trend_stream_equals_batch_and_survives_replay(spark, tmp_path):
    """trend_stream drained over a bounded backlog equals the batch
    Theil-Sen card exactly (bucket counts are additive), and a replayed
    partial append is absorbed by the (run_id, batch_id, group, bucket)
    dedup."""
    from dabstract_spark.operators.events import theil_sen_trend
    from dabstract_spark.session import load_table
    from dabstract_spark.streaming.ops import stream_events, trend_stream

    SF = "/root/testdata/sf0.001"
    ev = load_table(spark, SF, "events")
    want = sorted(
        tuple(r) for r in theil_sen_trend(ev, "event_type", "ts").collect()
    )
    src = stream_events(spark, f"{SF}/events.parquet").select("event_type", "ts")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    got = sorted(
        tuple(r)
        for r in trend_stream(src, "event_type", out, ckpt).collect()
    )
    assert got == want and len(want) > 0

    spark.read.parquet(out).limit(2).write.mode("append").parquet(out)
    got2 = sorted(
        tuple(r)
        for r in trend_stream(src.limit(0), "event_type", out, ckpt).collect()
    )
    assert got2 == want


def test_weighted_sample_n_laws(spark):
    """Exactly n winners, seed-reproducible, dominant weight always wins,
    zero/NULL weights never selected, and heavy rows are systematically
    overrepresented vs light rows."""
    from dabstract_spark.operators.select import weighted_sample_n

    df = spark.createDataFrame(
        [(i, 1.0) for i in range(400)]
        + [(1000 + i, 20.0) for i in range(100)]
        + [(2000, 0.0), (2001, None), (2002, -3.0)],
        "row_id long, w double",
    )
    out = weighted_sample_n(df, 50, "w", seed=1).collect()
    assert len(out) == 50
    assert sorted(r.sample_rank for r in out) == list(range(1, 51))
    ids = {r.row_id for r in out}
    assert ids.isdisjoint({2000, 2001, 2002})
    # 100 rows carry 20/21 of the total weight: the heavy cohort must
    # dominate the sample (binomially impossible to fail by chance)
    heavy = sum(1 for i in ids if i >= 1000)
    assert heavy > 30

    again = {r.row_id for r in weighted_sample_n(df, 50, "w", seed=1).collect()}
    assert again == ids
    other = {r.row_id for r in weighted_sample_n(df, 50, "w", seed=2).collect()}
    assert other != ids

    # a single overwhelming weight wins rank 1 under any seed
    dom = df.union(spark.createDataFrame([(5000, 1e12)], "row_id long, w double"))
    for seed in (0, 7):
        top = weighted_sample_n(dom, 3, "w", seed=seed).collect()
        assert min(top, key=lambda r: r.sample_rank).row_id == 5000


def test_theil_sen_trend_null_group_is_real(spark):
    """A NULL group spanning >=2 buckets must emit its card — the pair
    join is null-safe AND the bucket-count join must be too (a USING
    join silently dropped it; both oracles join IS NOT DISTINCT FROM)."""
    from dabstract_spark.operators.events import theil_sen_trend

    rows = [(None, 0), (None, 0), (None, 1), ("a", 0), ("a", 1)]
    df = spark.createDataFrame(rows, "g string, day int").select(
        "g", F.timestamp_seconds(F.col("day") * 86400 + 5).alias("ts")
    )
    out = {r.g: r for r in theil_sen_trend(df, "g", "ts").collect()}
    assert set(out) == {None, "a"}
    # NULL group: counts {0: 2, 1: 1} -> single slope -1e6
    assert (out[None].n_buckets, out[None].n_pairs) == (2, 1)
    assert out[None].slope_ppm_per_bucket == -1_000_000


def test_weighted_sample_n_null_key_excluded(spark):
    """A NULL key row must never be selected (its md5 race key is NULL,
    which would sort NULLS FIRST in Spark but NULLS LAST in SQL —
    exclusion is the only deterministic cross-engine contract)."""
    from dabstract_spark.operators.select import weighted_sample_n

    df = spark.createDataFrame(
        [(None, 1e12)] + [(i, 1.0) for i in range(20)],
        "row_id long, w double",
    )
    out = weighted_sample_n(df, 5, "w", seed=0).collect()
    assert len(out) == 5 and all(r.row_id is not None for r in out)


def test_weighted_sample_stream_equals_batch_and_survives_replay(spark, tmp_path):
    """weighted_sample_stream drained over a bounded backlog equals the
    batch sampler exactly (mergeable top-n: every global winner is in
    its own batch's top-n), and a replayed partial append is absorbed by
    the key dedup."""
    from dabstract_spark.operators.select import weighted_sample_n
    from dabstract_spark.session import load_table
    from dabstract_spark.streaming.ops import stream_events, weighted_sample_stream

    SF = "/root/testdata/sf0.001"
    docs = load_table(spark, SF, "documents").select(
        "doc_id", (F.col("n_chars") + 1).alias("wt")
    )
    want = sorted(
        tuple(r) for r in weighted_sample_n(docs, 40, "wt", seed=3, key="doc_id").collect()
    )
    src = stream_events(spark, f"{SF}/documents.parquet").select(
        "doc_id", (F.col("n_chars") + 1).alias("wt")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    got = sorted(
        tuple(r)
        for r in weighted_sample_stream(
            src, 40, "wt", out, ckpt, seed=3, key="doc_id"
        ).collect()
    )
    assert got == want and len(want) == 40

    spark.read.parquet(out).limit(10).write.mode("append").parquet(out)
    got2 = sorted(
        tuple(r)
        for r in weighted_sample_stream(
            src.limit(0), 40, "wt", out, ckpt, seed=3, key="doc_id"
        ).collect()
    )
    assert got2 == want


def test_stratified_sample_known_answer(spark):
    """Mixture preservation end to end: a 70/20/10 corpus sampled at
    n_total=10 yields exactly 7/2/1 per group, Σ == n_total, ranks
    contiguous from 1 within each group, deterministic under the seed;
    n_total above the corpus degrades to whole groups (overfill regime:
    every row sampled)."""
    from dabstract_spark.operators.select import stratified_sample

    rows = (
        [(i, "a") for i in range(70)]
        + [(100 + i, "b") for i in range(20)]
        + [(200 + i, "c") for i in range(10)]
    )
    df = spark.createDataFrame(rows, "row_id long, g string")
    out = stratified_sample(df, "g", 10, seed=4).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append(r.strat_rank)
    assert {g: len(v) for g, v in by_g.items()} == {"a": 7, "b": 2, "c": 1}
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_g.values())
    assert len(out) == 10
    assert {tuple(r) for r in stratified_sample(df, "g", 10, seed=4).collect()} == {
        tuple(r) for r in out
    }

    whole = stratified_sample(df, "g", 1000, seed=4).collect()
    assert len(whole) == 100  # overfill: every row of every group


def test_kmv_stream_equals_batch_and_survives_replay(spark, tmp_path):
    """kmv_stream drained over a bounded backlog equals the batch KMV
    card exactly (k-smallest-of-union merge), and a replayed partial
    append changes nothing — idempotence needs no dedup markers."""
    from dabstract_spark.operators.sketches import kmv_estimate, kmv_partials
    from dabstract_spark.session import load_table
    from dabstract_spark.streaming.ops import kmv_stream, stream_events

    SF = "/root/testdata/sf0.001"
    ev = load_table(spark, SF, "events")
    want = sorted(
        tuple(r)
        for r in kmv_estimate(
            kmv_partials(ev, "user_id", ("event_type",), 256), ("event_type",), 256
        ).collect()
    )
    src = stream_events(spark, f"{SF}/events.parquet").select(
        "event_type", "user_id"
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    got = sorted(
        tuple(r)
        for r in kmv_stream(src, "user_id", ["event_type"], out, ckpt, 256).collect()
    )
    assert got == want and len(want) > 0

    spark.read.parquet(out).limit(5).write.mode("append").parquet(out)
    got2 = sorted(
        tuple(r)
        for r in kmv_stream(
            src.limit(0), "user_id", ["event_type"], out, ckpt, 256
        ).collect()
    )
    assert got2 == want
