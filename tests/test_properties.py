"""Property-based tests (hypothesis) for operator invariants — a layer
the reference's test suite lacks (SURVEY §5): instead of fixed literal
expectations, these assert structural laws over arbitrary inputs.

One shared Spark action per example keeps runtime sane: max_examples is
deliberately small and deadlines are disabled (Spark jobs are not
microsecond-scale).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from dabstract_spark.dataset import Dataset
from dabstract_spark.operators import dedup as dd, split as sp

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

arrays = st.lists(
    st.lists(st.integers(-100, 100), min_size=0, max_size=17), min_size=1, max_size=6
)


@given(rows=arrays, size=st.integers(1, 7))
@settings(**_SETTINGS)
def test_split_conserves_elements(spark, rows, size):
    """Splitting then flattening chunks reproduces every array exactly
    (order preserved, nothing lost/duplicated), and chunk counts are
    ceil(len/size)."""
    df = spark.createDataFrame(list(enumerate(rows)), "id long, xs array<int>")
    out = sp.split_array(df, "xs", size).collect()
    by_id = {}
    for r in sorted(out, key=lambda r: (r.id, r.chunk_id)):
        by_id.setdefault(r.id, []).extend(r.xs)
    for i, xs in enumerate(rows):
        assert by_id.get(i, []) == xs
        n_chunks = sum(1 for r in out if r.id == i)
        assert n_chunks == -(-len(xs) // size) if xs else n_chunks == 0


@given(rows=arrays, size=st.integers(1, 7))
@settings(**_SETTINGS)
def test_split_drop_partial_only_full_windows(spark, rows, size):
    df = spark.createDataFrame(list(enumerate(rows)), "id long, xs array<int>")
    out = sp.split_array(df, "xs", size, drop_last_partial=True).collect()
    for r in out:
        assert len(r.xs) == size
    for i, xs in enumerate(rows):
        assert sum(1 for r in out if r.id == i) == len(xs) // size


@given(
    texts=st.lists(
        st.text(alphabet="ab c.", min_size=0, max_size=40), min_size=1, max_size=8
    )
)
@settings(**_SETTINGS)
def test_exact_dedup_laws(spark, texts):
    """Dedup is idempotent, never increases cardinality, keeps ≥1 row per
    distinct normalized content, and keeps the MIN id of each group."""
    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    once = dd.exact_dedup(df, "id", "t")
    rows1 = sorted(r.id for r in once.collect())
    rows2 = sorted(r.id for r in dd.exact_dedup(once, "id", "t").collect())
    assert rows1 == rows2  # idempotent
    norm = [" ".join(t.lower().strip().split()) for t in texts]
    groups = {}
    for i, n in enumerate(norm):
        groups.setdefault(n, []).append(i)
    expect = sorted(min(g) for g in groups.values())
    assert rows1 == expect


@given(n=st.integers(2, 40), folds=st.integers(2, 5))
@settings(**_SETTINGS)
def test_kfold_partition_laws(spark, n, folds):
    """Folds partition the rows; sizes balanced within ±1."""
    from dabstract_spark.operators import xval as xv

    df = spark.createDataFrame([(i,) for i in range(n)], "k long")
    a = xv.random_kfold(df, folds=folds, key="k")
    rows = a.collect()
    assert len(rows) == n and len({r.k for r in rows}) == n
    sizes = {}
    for r in rows:
        sizes[r.fold] = sizes.get(r.fold, 0) + 1
    assert set(sizes) <= set(range(folds))
    assert max(sizes.values()) - min(sizes.values()) <= 1


@given(
    texts=st.lists(
        st.text(alphabet="abc def", min_size=0, max_size=30), min_size=1, max_size=6
    )
)
@settings(**_SETTINGS)
def test_minhash_identical_docs_always_candidates(spark, texts):
    """Any two documents with identical ≥k-token content must appear as a
    candidate pair (LSH banding can miss near-dups, never exact dups)."""
    rows = list(enumerate(texts)) + [(100 + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, t string")
    pairs = {
        (r.id_a, r.id_b)
        for r in dd.minhash_candidate_pairs(df, "id", "t", 16, 4, k=2).collect()
    }
    for i, t in enumerate(texts):
        if len([w for w in t.split() if w]) >= 2:  # has at least one 2-shingle
            assert (i, 100 + i) in pairs


# --------------------------------------------------------------------- #
# with_row_id is the keystone of every ordinal semantic (selects, folds,
# zip-joins): its assignment must be a function of the ORDER KEY only —
# never of physical partitioning or arrival order.
# --------------------------------------------------------------------- #
@given(
    keys=st.lists(
        st.text(alphabet="abcdef0123456789", min_size=1, max_size=12),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    npart=st.integers(1, 7),
)
@settings(**_SETTINGS)
def test_with_row_id_deterministic_under_repartition(spark, keys, npart):
    from dabstract_spark.core import with_row_id

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    base = {r.k: r.row_id for r in with_row_id(df, "k").collect()}
    shuffled = {
        r.k: r.row_id for r in with_row_id(df.repartition(npart), "k").collect()
    }
    assert base == shuffled
    # dense 0-based ids in sorted-key order
    expect = {k: i for i, k in enumerate(sorted(keys))}
    assert base == expect


@given(
    vals=st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=40, unique=True),
    npart=st.integers(1, 7),
)
@settings(**_SETTINGS)
def test_with_row_id_numeric_keys_deterministic(spark, vals, npart):
    from dabstract_spark.core import with_row_id

    df = spark.createDataFrame([(v,) for v in vals], "k long")
    base = {r.k: r.row_id for r in with_row_id(df, "k").collect()}
    shuffled = {
        r.k: r.row_id for r in with_row_id(df.repartition(npart), "k").collect()
    }
    assert base == shuffled
    assert base == {v: i for i, v in enumerate(sorted(vals))}


# --------------------------------------------------------------------- #
# asof_join vs a direct python reference model: for arbitrary per-user
# event sets, every left row gets the max right ts <= (or < when
# strict) its own ts — including duplicates of the key across users and
# equal-timestamp collisions.
# --------------------------------------------------------------------- #
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=25
    ),
    strict=st.booleans(),
)
@settings(**_SETTINGS)
def test_asof_join_matches_reference_model(spark, lefts, rights, strict):
    from datetime import datetime, timedelta

    from dabstract_spark.operators.events import asof_join

    base = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, u, base + timedelta(seconds=s)) for i, (u, s) in enumerate(lefts)],
        "event_id long, user_id long, ts timestamp",
    )
    # unique (user, ts) on the right so the expected value is well-defined
    rset = {(u, s) for u, s in rights}
    rrows = [(u, base + timedelta(seconds=s), float(u * 1000 + s)) for u, s in sorted(rset)]
    right = spark.createDataFrame(
        rrows or [(99, base, 0.0)], "user_id long, ts timestamp, value double"
    )
    if not rrows:
        right = right.filter("user_id < 0")

    def expect(u, s):
        cands = [
            (rs, u * 1000 + rs)
            for (ru, rs) in rset
            if ru == u and (rs < s if strict else rs <= s)
        ]
        return float(max(cands)[1]) if cands else None

    got = {
        r.event_id: r.value_asof
        for r in asof_join(left, right, right_cols=("value",), strict=strict).collect()
    }
    assert got == {i: expect(u, s) for i, (u, s) in enumerate(lefts)}


@given(
    vals=st.lists(st.integers(0, 60), min_size=1, max_size=40),
    gap=st.integers(1, 9),
    block=st.integers(1, 16),
    cap=st.integers(1, 50),
)
@settings(**_SETTINGS)
def test_sequence_pack_matches_serial_model(spark, vals, gap, block, cap):
    """sequence_pack (over the block-wise distributed prefix sum) equals
    the obvious serial concat-and-chunk model for arbitrary token
    counts, id gaps, block sizes, and window capacities."""
    from dabstract_spark.operators.packing import sequence_pack

    rows = [(i * gap, v) for i, v in enumerate(vals)]  # gappy, unique ids
    df = spark.createDataFrame(rows, "doc_id bigint, n int").repartition(5)
    got = {
        r["doc_id"]: (r["start_offset"], r["first_chunk"], r["last_chunk"], r["n_chunks"])
        for r in sequence_pack(df, "doc_id", "n", capacity=cap, block_size=block).collect()
    }
    off = 0
    for oid, v in rows:
        first = off // cap
        last = (off + v - 1) // cap if v > 0 else first
        assert got[oid] == (off, first, last, last - first + 1), (oid, got[oid])
        off += v


@given(
    paras=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e", ""]), min_size=1, max_size=5),
        min_size=1,
        max_size=6,
    ),
    npart=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_paragraph_dedup_matches_serial_model(spark, paras, npart):
    """paragraph_dedup == the obvious single-threaded keep-first pass,
    regardless of input partitioning."""
    import hashlib

    docs = [(i, "\n\n".join(ps)) for i, ps in enumerate(paras)]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(npart)
    got = {r.doc_id: r for r in dd.paragraph_dedup(df).collect()}

    seen: set[str] = set()
    for i, ps in enumerate(paras):
        kept = []
        for p in ps:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        expect_md5 = hashlib.md5("\n\n".join(kept).encode()).hexdigest()
        assert got[i].n_paras == len(ps)
        assert got[i].n_kept == len(kept)
        assert got[i].cleaned_md5 == expect_md5


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),                 # user
            st.integers(0, 50),                # minute
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=0,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_funnel_matches_serial_model(spark, events):
    """funnel_stages == the serial min-ts chaining over sorted events
    (strictly-after semantics, ties excluded)."""
    import datetime

    if not events:
        return
    rows = [
        (i, datetime.datetime(2024, 1, 1, 0, 0, m), u, t)
        for i, (u, m, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r.user_id: r.stage_reached for r in __import__(
        "dabstract_spark.operators.events", fromlist=["funnel_stages"]
    ).funnel_stages(df).collect()}

    stages = ("view", "click", "purchase")
    for u in {e[0] for e in events}:
        evs = sorted((m, t) for uu, m, t in events if uu == u)
        k, last = 0, None
        for m, t in evs:
            if k < 3 and t == stages[k] and (k == 0 or m > last):
                k, last = k + 1, m
        assert got[u] == k, (u, evs, got[u], k)


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=24), min_size=1, max_size=6
    ),
    n_merges=st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_bpe_trainer_matches_serial_reference(spark, texts, n_merges):
    """Property form of the BPE equivalence: on hypothesis-generated
    corpora over a tiny alphabet (maximizing repeated-symbol overlaps
    and count ties), the distributed trainer must equal a serial Python
    reference using str.replace — same greedy application, same
    (count DESC, left, right) tie-break."""
    import re
    from collections import Counter

    from dabstract_spark.operators.text import BPE_PATTERN, bpe_learn_merges

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.step, r.left_sym, r.right_sym, r.pair_count)
        for r in bpe_learn_merges(df, "text", n_merges=n_merges)
        .orderBy("step")
        .collect()
    ]
    words = Counter()
    for t in texts:
        words.update(re.findall(BPE_PATTERN, t.lower()))
    US = "\x1f"
    enc = {US + (US + " " + US).join(list(w)) + US: c for w, c in words.items()}
    want = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for s, c in enc.items():
            syms = s.split(" ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (wa, wb), total = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        want.append((step, wa[1:-1], wb[1:-1], total))
        patt, rep = wa + " " + wb, wa[:-1] + wb[1:]
        enc = {s.replace(patt, rep): c for s, c in enc.items()}
    assert got == want


def _serial_shingles(text: str, k: int) -> set[str]:
    import re

    toks = [t for t in re.split(r"\W+", text.lower()) if t]
    if len(toks) < k:
        return set()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


_docwords = st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=2, max_size=8)


@given(docs=st.lists(_docwords, min_size=2, max_size=6))
@settings(**_SETTINGS)
def test_capped_pair_mining_equals_uncapped_below_cap(spark, docs):
    """With max_df >= every shingle's document frequency, the capped
    jaccard/containment pair miners are EXACTLY the uncapped ones —
    the pre-count semi-join cap is a pure no-op below the cap."""
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cap = len(docs)  # df can never exceed the corpus size
    jac_c = sorted(map(tuple, dd.jaccard_pairs(df, "doc_id", "text", k=2, threshold=0.0, max_df=cap).collect()))
    jac_u = sorted(map(tuple, dd.jaccard_pairs(df, "doc_id", "text", k=2, threshold=0.0).collect()))
    assert jac_c == jac_u
    con_c = sorted(map(tuple, dd.containment_pairs(df, "doc_id", "text", k=2, threshold_ppm=0, max_df=cap).collect()))
    con_u = sorted(map(tuple, dd.containment_pairs(df, "doc_id", "text", k=2, threshold_ppm=0).collect()))
    assert con_c == con_u


@given(docs=st.lists(_docwords, min_size=3, max_size=6), cap=st.integers(1, 2))
@settings(**_SETTINGS)
def test_capped_pair_mining_loses_only_hot_shingle_pairs(spark, docs, cap):
    """With an injected boilerplate phrase in EVERY doc (shingles with
    df = corpus size > max_df), the capped miner's pairs are a subset of
    the uncapped ones; every lost pair co-occurred ONLY through hot
    (df > max_df) shingles — no pair connected by a cool shingle is
    ever dropped — and every surviving pair's score matches the serial
    model exactly: numerator = shared COOL shingles (hot ones are
    excluded from candidate generation, so they leave the intersection
    count too), denominators = FULL per-doc shingle counts. Corollary:
    a capped score can only be <= its uncapped score."""
    boiler = "zz yy xx"
    rows = [(i, boiler + " " + " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 2
    capped = {(r.id_a, r.id_b): r.jaccard for r in dd.jaccard_pairs(df, "doc_id", "text", k=k, threshold=0.0, max_df=cap).collect()}
    uncapped = {(r.id_a, r.id_b): r.jaccard for r in dd.jaccard_pairs(df, "doc_id", "text", k=k, threshold=0.0).collect()}
    assert set(capped) <= set(uncapped)
    sh = {i: _serial_shingles(t, k) for i, t in rows}
    docfreq: dict[str, int] = {}
    for s_set in sh.values():
        for s in s_set:
            docfreq[s] = docfreq.get(s, 0) + 1
    for (a, b) in set(uncapped) - set(capped):
        shared = sh[a] & sh[b]
        assert shared and all(docfreq[s] > cap for s in shared)
    # the capped set is exactly the pairs sharing >= 1 cool shingle,
    # scored with a cool-only numerator over full denominators
    for (a, b), v in capped.items():
        inter_cool = sum(1 for s in sh[a] & sh[b] if docfreq[s] <= cap)
        expect = round(inter_cool / (len(sh[a]) + len(sh[b]) - inter_cool), 6)
        assert v == expect
        assert v <= uncapped[(a, b)]
    expect_pairs = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and any(docfreq[s] <= cap for s in (sh[a] & sh[b]))
    }
    assert set(capped) == expect_pairs


@given(
    a_words=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6),
    b_words=st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=6),
)
@settings(**_SETTINGS)
def test_winnowing_guarantee_shared_run_detected(spark, a_words, b_words):
    """The winnowing guarantee (Schleimer 2003): two documents sharing
    a token run of >= window+k-1 tokens (here 4+3-1 = 6, the injected
    'uu vv ww xx yy zz' phrase) ALWAYS share at least one fingerprint —
    a full window of k-gram hashes lies inside the shared run, and its
    minimum lands in both value sets regardless of surrounding text."""
    shared = "uu vv ww xx yy zz"
    rows = [
        (0, (" ".join(a_words) + " " + shared).strip()),
        (1, (shared + " " + " ".join(b_words)).strip()),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = dd.winnow_fingerprints(df, "doc_id", "text", k=3, window=4)
    by_doc: dict[int, set] = {0: set(), 1: set()}
    for r in fps.collect():
        by_doc[r.doc_id].add(r.fp)
    assert by_doc[0] & by_doc[1], "shared 6-token run produced no shared fingerprint"


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", ""]), min_size=0, max_size=8),
        min_size=1,
        max_size=5,
    )
)
@settings(**_SETTINGS)
def test_dedup_lines_matches_python_reference(spark, docs):
    """dedup_lines == the obvious serial first-occurrence filter."""
    from dabstract_spark.operators.text import dedup_lines_df

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in dedup_lines_df(df, "doc_id", "text").collect()}
    for i, _ in enumerate(docs):
        lines = rows[i][1].split("\n")  # NB: "".split -> [""], same as Spark
        seen, kept = set(), []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        assert got[i]["n_lines"] == len(lines)
        assert got[i]["n_kept"] == len(kept)
        import hashlib

        assert got[i]["cleaned_md5"] == hashlib.md5("\n".join(kept).encode()).hexdigest()


@given(ids=st.sets(st.integers(0, 10_000), min_size=1, max_size=40), seed=st.integers(0, 3))
@settings(**_SETTINGS)
def test_training_order_bijection_any_ids(spark, ids, seed):
    """positions are a dense 0..n-1 bijection for ARBITRARY id sets
    (gaps, duplicates of md5 prefixes, any size), and shards follow
    pos % n_shards."""
    from dabstract_spark.operators.select import training_order

    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    rows = training_order(df, "id", seed=seed, n_shards=3).collect()
    assert sorted(r["pos"] for r in rows) == list(range(len(ids)))
    assert all(r["shard"] == r["pos"] % 3 for r in rows)


@given(
    old=st.dictionaries(st.integers(0, 15), st.text("abc", max_size=3), max_size=10),
    new=st.dictionaries(st.integers(0, 15), st.text("abc", max_size=3), max_size=10),
)
@settings(**_SETTINGS)
def test_snapshot_diff_apply_roundtrip(spark, old, new):
    """Diff/apply laws on arbitrary snapshots: statuses match the
    set-theoretic reference model, and apply(old, diff, delta)
    reconstructs new EXACTLY."""
    from dabstract_spark.operators.layout import snapshot_apply, snapshot_diff

    old_df = spark.createDataFrame(
        list(old.items()) or [(None, None)], "k int, t string"
    ).filter("k is not null")
    new_df = spark.createDataFrame(
        list(new.items()) or [(None, None)], "k int, t string"
    ).filter("k is not null")
    d = snapshot_diff(old_df, new_df, "k", F.md5("t"))
    got = {r.k: r.status for r in d.collect()}
    expect = {}
    for k in set(old) | set(new):
        if k not in old:
            expect[k] = "added"
        elif k not in new:
            expect[k] = "removed"
        else:
            expect[k] = "unchanged" if old[k] == new[k] else "changed"
    assert got == expect

    delta = new_df.join(
        d.filter(F.col("status").isin("added", "changed")).select("k"),
        "k",
        "left_semi",
    )
    rebuilt = snapshot_apply(old_df, d, delta, "k")
    assert sorted(map(tuple, rebuilt.collect())) == sorted(new.items())


@given(
    items=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 3)),
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    seed=st.integers(0, 5),
)
@settings(**_SETTINGS)
def test_curriculum_order_reference_model(spark, items, seed):
    """curriculum_order on ARBITRARY (id, stage) sets equals the serial
    reference model: sort by (stage, md5(seed:id), id), positions dense
    0..n-1 — i.e. the composite-bucket distributed rank is EXACTLY the
    stage-major total order, for any stage skew (including all rows in
    one stage and one row per stage)."""
    import hashlib

    from dabstract_spark.operators.select import curriculum_order

    if not items:
        return
    df = spark.createDataFrame(items, "id bigint, stage int")
    rows = curriculum_order(df, "stage", "id", seed=seed).collect()
    expect = sorted(
        items, key=lambda t: (t[1], hashlib.md5(f"{seed}:{t[0]}".encode()).hexdigest(), t[0])
    )
    got = sorted(rows, key=lambda r: r["pos"])
    assert [r["pos"] for r in got] == list(range(len(items)))
    assert [(r["id"], r["stage"]) for r in got] == expect


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),  # (group, score)
        min_size=1,
        max_size=60,
    ),
    n=st.integers(1, 5),
)
@settings(**_SETTINGS)
def test_two_level_rank_law_vs_naive(spark, rows, n):
    """Law: the composite-bucket two-level sample_per_group /
    top_k_per_group equal the naive single Window.partitionBy(group)
    rank on ARBITRARY corpora (any group-size distribution, any n) —
    the r7 de-skew rewrite must be invisible in output."""
    from pyspark.sql import Window

    from dabstract_spark.functions.hashing import md5_order
    from dabstract_spark.operators.select import sample_per_group, top_k_per_group

    data = [(i, f"g{g}", s) for i, (g, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "row_id long, grp string, score long")

    w1 = Window.partitionBy("grp").orderBy(md5_order("row_id", 0), "row_id")
    naive_samp = sorted(
        (r.grp, r.row_id)
        for r in df.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= n)
        .collect()
    )
    got_samp = sorted(
        (r.grp, r.row_id) for r in sample_per_group(df, "grp", n=n).collect()
    )
    assert got_samp == naive_samp

    w2 = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("row_id"))
    naive_topk = sorted(
        (r.grp, r.row_id)
        for r in df.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= n)
        .collect()
    )
    got_topk = sorted(
        (r.grp, r.row_id)
        for r in top_k_per_group(
            df, ["grp"], [F.desc("score"), F.asc("row_id")], k=n
        ).collect()
    )
    assert got_topk == naive_topk


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),  # group (NULL = real partition)
            st.one_of(st.none(), st.integers(0, 1_000_000)),  # ppm score (NULLS FIRST)
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**_SETTINGS)
def test_grouped_rank_ppm_law_vs_naive(spark, rows):
    """Law: the composite value-bucket grouped_rank_ppm equals the naive
    per-group ROW_NUMBER rank/percentile for arbitrary score
    distributions — including boundary scores, ties, single-row
    groups, NULL groups (a real window partition) and NULL scores
    (ranked first, Spark's ascending NULLS FIRST)."""
    from pyspark.sql import Window

    from dabstract_spark.operators.select import grouped_rank_ppm

    data = [(i, None if g is None else f"g{g}", s) for i, (g, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "row_id long, grp string, qp long")
    got = {
        r.row_id: (r.rank_in_group, r.pct_ppm)
        for r in grouped_rank_ppm(df, "grp", "qp", "row_id").collect()
    }
    w = Window.partitionBy("grp").orderBy("qp", "row_id")
    naive = {
        r.row_id: (r.rk, r.pct)
        for r in df.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("grp")))
        .withColumn(
            "pct",
            F.expr(
                "CAST((CAST(rk - 1 AS DECIMAL(38,0)) * 1000000)"
                " div CAST(greatest(cnt - 1, 1) AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
        .collect()
    }
    assert got == naive


@given(
    keys=st.lists(st.one_of(st.none(), st.integers(0, 40)), min_size=1, max_size=60),
    ratio=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]),
    n=st.integers(0, 70),
    seed=st.integers(0, 3),
)
@settings(**_SETTINGS)
def test_exact_samples_law_vs_naive_sort_limit(spark, keys, ratio, n, seed):
    """Law: the bucketed exact-count samples keep the same rows as the
    naive global sort-limit ``orderBy(md5_order(key, seed),
    key).limit(k)`` — k = ceil(n_rows·ratio) for random_subsample and
    k = n for random_sample_n — for ARBITRARY key columns: NULL keys
    (md5 of NULL sorts first), duplicate keys (identical md5 ranks),
    k = 0 and k beyond the row count. Rows are compared as a key
    multiset, which is all a tie between equal keys can decide."""
    import math
    from collections import Counter

    from dabstract_spark.functions.hashing import md5_order
    from dabstract_spark.operators.select import random_sample_n, random_subsample

    df = spark.createDataFrame([(k,) for k in keys], "k long")

    def naive(k):
        return Counter(
            r.k for r in df.orderBy(md5_order("k", seed), "k").limit(k).collect()
        )

    got = Counter(r.k for r in random_subsample(df, ratio, seed=seed, key="k").collect())
    assert got == naive(math.ceil(len(keys) * ratio))
    got_n = Counter(r.k for r in random_sample_n(df, n, seed=seed, key="k").collect())
    assert got_n == naive(n)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),  # group (NULL = real partition)
            st.one_of(st.none(), st.integers(0, 50)),  # order key (NULLs placed!)
            st.one_of(st.none(), st.integers(0, 20)),  # tokens (NULLs skipped!)
        ),
        min_size=1,
        max_size=60,
    ),
    budget=st.integers(0, 200),
)
@settings(**_SETTINGS)
def test_token_budget_two_level_law_vs_naive(spark, rows, budget):
    """Law: the two-level (group, 256-value-bucket) token_budget_per_group
    equals the naive per-group window cumsum for ARBITRARY corpora —
    any group sizes, tied order keys, NULL order keys (DESC = NULLS
    LAST, needs nulls_last=True), NULL TOKEN values (sum skips them; a
    row whose whole inclusive prefix is NULL has NULL cum and drops,
    while an all-NULL bucket prefix must still inherit earlier buckets'
    offset — the r9 exactness fix), NULL group values (a real window
    partition), zero-token rows, budget edge cases — for BOTH an
    ascending and a descending (negated order_key) primary sort. The
    r8 de-skew rewrite must be invisible in output."""
    from pyspark.sql import Window

    from dabstract_spark.operators.select import token_budget_per_group

    data = [
        (i, None if g is None else f"g{g}", k, t)
        for i, (g, k, t) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "row_id long, grp string, k long, tok long")

    for order, kw in (
        ([F.desc("k"), F.asc("row_id")], dict(order_key=-F.col("k"), nulls_last=True)),
        ([F.asc("k"), F.asc("row_id")], dict(order_key="k")),
    ):
        w = (
            Window.partitionBy("grp")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # Counter, not set: the rewrite's null-safe joins must not fan
        # rows out — multiset equality catches a duplicate-emitting
        # regression that set equality would hide (and tuples with None
        # don't sort, so sorted lists are out)
        from collections import Counter

        naive = Counter(
            (r.grp, r.row_id, r.cum)
            for r in df.withColumn("cum", F.sum("tok").over(w))
            .filter(F.col("cum") <= budget)
            .collect()
        )
        got = Counter(
            (r.grp, r.row_id, r.cum_tokens)
            for r in token_budget_per_group(
                df, "grp", "tok", order, budget, **kw
            ).collect()
        )
        assert got == naive, (order, kw)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),  # group (NULL = real partition)
            st.one_of(st.none(), st.integers(-50, 50)),  # value (NULLS FIRST)
            st.integers(1, 20),  # weight
        ),
        min_size=1,
        max_size=60,
    ),
    quantiles=st.lists(
        st.tuples(st.integers(0, 100), st.sampled_from([2, 100])),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@settings(**_SETTINGS)
def test_grouped_weighted_quantiles_law_vs_naive(spark, rows, quantiles):
    """Law: the two-level (group, 256-value-range-bucket)
    grouped_weighted_quantiles equals the naive per-group window cumsum
    boundary pick for ARBITRARY (group, value, weight) tables — any
    group sizes (incl. one giant group), NULL groups (a real window
    partition), NULL values (Spark's ascending NULLS FIRST — never
    pickable), single-distinct-value groups (span 0), and arbitrary
    (num, den) thresholds including 0 and 100 percent. The r9 de-skew
    rewrite of the exact-percentile shape must be invisible in output."""
    from collections import Counter

    from pyspark.sql import Window

    from dabstract_spark.operators.select import grouped_weighted_quantiles

    data = [
        (None if g is None else f"g{g}", v, w) for g, v, w in rows
    ]
    counts = (
        spark.createDataFrame(data, "grp string, v long, w long")
        .groupBy("grp", "v")
        .agg(F.sum("w").alias("w"))
    )
    qspec = [(f"q{num}_{den}", num, den) for num, den in quantiles]

    w_cum = (
        Window.partitionBy("grp").orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("grp")
    cum = counts.select(
        "grp",
        "v",
        F.sum("w").over(w_cum).alias("cum"),
        F.sum("w").over(w_tot).alias("n"),
    )
    naive = Counter(
        tuple(r)
        for r in cum.groupBy("grp")
        .agg(
            *[
                F.min(
                    F.when(den * F.col("cum") >= num * F.col("n"), F.col("v"))
                ).alias(name)
                for name, num, den in qspec
            ]
        )
        .collect()
    )
    for hint in (8, None):  # static-broadcast and hint-less AQE paths
        got = Counter(
            tuple(r)
            for r in grouped_weighted_quantiles(
                counts, "grp", "v", "w", qspec, n_groups_hint=hint
            ).collect()
        )
        assert got == naive, hint


@given(
    lens=st.lists(st.integers(0, 300), min_size=1, max_size=40),
    budget=st.sampled_from([64, 256, 1024]),
)
@settings(**_SETTINGS)
def test_length_bucket_batches_conservation_law(spark, lens, budget):
    """Laws: every doc appears exactly once; caps are powers of two
    covering the length; no batch exceeds budget div cap docs; slots
    tile 0..m-1 densely within each batch."""
    from dabstract_spark.operators.packing import length_bucket_batches

    df = spark.createDataFrame(
        list(enumerate(lens)), "doc_id long, nt long"
    )
    out = length_bucket_batches(df, "doc_id", "nt", batch_tokens=budget).collect()
    assert sorted(r.doc_id for r in out) == list(range(len(lens)))
    batches = {}
    for r in out:
        cap = r.bucket_cap
        assert cap >= max(r.n_tokens, 1) and cap & (cap - 1) == 0
        per = max(budget // cap, 1)
        assert 0 <= r.slot < per
        batches.setdefault((cap, r.batch_id), []).append(r.slot)
    for (cap, _), slots in batches.items():
        assert len(slots) <= max(budget // cap, 1)
        assert sorted(slots) == list(range(len(slots)))


@given(
    caps=st.lists(st.integers(0, 500), min_size=1, max_size=12),
    budget=st.integers(0, 3000),
    repeat=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_budget_allocation_matches_serial_waterfill(spark, caps, budget, repeat):
    """Law: budget_allocation equals an independent serial water-filling
    reference for ARBITRARY group sizes, budgets, and repeat caps —
    conservation (sum == min(budget, total capacity)), per-group bounds,
    remainder placement, everything, exactly."""
    from dabstract_spark.operators.planning import budget_allocation

    rows = [(f"g{i:02d}", n) for i, n in enumerate(caps)]
    df = spark.createDataFrame(rows, "g string, n long")
    got = {
        r.g: (r.n_tokens, r.cap_tokens, r.alloc_tokens, r.capped)
        for r in budget_allocation(df, "g", "n", budget, max_repeat=repeat).collect()
    }

    # serial reference: sort (cap asc, group asc); first index whose
    # fair level undercuts its own cap freezes the water level; capped
    # groups share level +1-token remainders in sort order
    srt = sorted(((n * repeat, g, n) for g, n in rows))
    total = sum(c for c, _, _ in srt)
    want = {}
    if budget >= total:
        want = {g: (n, c, c, 0) for c, g, n in srt}
    else:
        p = 0
        k = None
        for i, (c, g, n) in enumerate(srt):
            r = len(srt) - i
            level = (budget - p) // r
            if level < c:
                k, water, rem = i, level, (budget - p) - level * r
                break
            p += c
        for i, (c, g, n) in enumerate(srt):
            if i < k:
                want[g] = (n, c, c, 0)
            else:
                a = water + (1 if i - k < rem else 0)
                want[g] = (n, c, a, int(a < c))
    assert got == want
    assert sum(a for _, _, a, _ in got.values()) == min(budget, total)


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 3)),  # group (NULL = real partition)
            st.one_of(st.none(), st.integers(-50, 50)),  # value (NULLS FIRST)
        ),
        min_size=1,
        max_size=60,
    ),
    ntiles=st.sampled_from([1, 3, 4, 7]),
)
@settings(**_SETTINGS)
def test_grouped_order_stats_law_vs_naive_window(spark, rows, ntiles):
    """Law: the two-level grouped_order_stats equals the naive
    ``Window.partitionBy(group).orderBy(value, id)`` full-output rank
    family — row_number, group count, and NTILE(k) — for arbitrary
    tables: any group sizes (incl. one giant group), NULL groups (a
    real window partition), NULL values (ascending NULLS FIRST),
    negative values, constant-value groups (span 0), and n < k tile
    splits. The r9 de-skew of the last full-output catalog window
    (q156) must be invisible in output."""
    from collections import Counter

    from pyspark.sql import Window

    from dabstract_spark.operators.select import grouped_order_stats

    data = [
        (i, None if g is None else f"g{g}", v) for i, (g, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "rid long, grp string, v long")

    w = Window.partitionBy("grp").orderBy(
        F.col("v").asc_nulls_first(), F.col("rid")
    )
    w_tot = Window.partitionBy("grp")
    naive = Counter(
        (r.rid, r.rn, r.n, r.tile)
        for r in df.select(
            "rid",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(w_tot).alias("n"),
            F.ntile(ntiles).over(w).alias("tile"),
        ).collect()
    )
    for hint in (8, None):  # static-broadcast and hint-less AQE paths
        got = Counter(
            (r.rid, r.rank_in_group, r.n_group, r.ntile_in_group)
            for r in grouped_order_stats(
                df, "grp", "v", "rid", ntiles=ntiles, n_groups_hint=hint
            ).collect()
        )
        assert got == naive, hint


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 2)),  # group (NULL = real)
            st.one_of(st.none(), st.integers(-80, 80)),  # value incl. NULLs
        ),
        min_size=1,
        max_size=50,
    ),
    k=st.sampled_from([1, 3]),
)
@settings(**_SETTINGS)
def test_mad_family_two_level_law_vs_naive(spark, rows, k):
    """Law: grouped_mad_outliers AND winsorize_by_mad (both built on the
    two-level quantile machinery + checkpointed collapse) equal the
    naive per-group window med/MAD forms for ARBITRARY tables — NULL
    groups (a real group), NULL values (excluded, flag 0), negative
    values (truncating-div-free path), all-NULL-value groups (band-less
    rows pass through), and both the broadcast-hint and AQE join
    paths."""
    from collections import Counter

    from dabstract_spark.operators.select import (
        grouped_mad_outliers,
        winsorize_by_mad,
    )

    data = [
        (None if g is None else f"g{g}", v, i) for i, (g, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "grp string, v long, rid long")
    df.createOrReplaceTempView("__madlaw")
    naive_card = Counter(
        tuple(r)
        for r in spark.sql(
            f"""
            WITH cv AS (SELECT grp, v, COUNT(*) AS w FROM __madlaw
                        WHERE v IS NOT NULL GROUP BY 1, 2),
            c1 AS (SELECT grp, v, w,
                          SUM(w) OVER (PARTITION BY grp ORDER BY v) AS cw,
                          SUM(w) OVER (PARTITION BY grp) AS n FROM cv),
            med AS (SELECT grp, MIN(v) AS median FROM c1
                    WHERE 2 * cw >= n GROUP BY 1),
            cvm AS (SELECT cv.grp, cv.v, cv.w, m.median,
                           abs(cv.v - m.median) AS dev
                    FROM cv JOIN med m ON cv.grp <=> m.grp),
            dv AS (SELECT grp, dev, SUM(w) AS w FROM cvm GROUP BY 1, 2),
            c2 AS (SELECT grp, dev, w,
                          SUM(w) OVER (PARTITION BY grp ORDER BY dev) AS cw,
                          SUM(w) OVER (PARTITION BY grp) AS n FROM dv),
            mad AS (SELECT grp, MIN(dev) AS mad FROM c2
                    WHERE 2 * cw >= n GROUP BY 1)
            SELECT cvm.grp, CAST(SUM(w) AS BIGINT), MAX(median),
                   MAX(mad.mad),
                   CAST(SUM(CASE WHEN dev > {k} * mad.mad THEN w ELSE 0 END)
                        AS BIGINT),
                   CAST(CAST(SUM(CASE WHEN dev > {k} * mad.mad THEN w
                                      ELSE 0 END) AS DECIMAL(38,0)) * 1000000
                        div CAST(greatest(SUM(w), 1) AS DECIMAL(38,0))
                        AS BIGINT)
            FROM cvm JOIN mad ON cvm.grp <=> mad.grp GROUP BY cvm.grp
            """
        ).collect()
    )
    naive_rows = Counter(
        tuple(r)
        for r in spark.sql(
            f"""
            WITH cv AS (SELECT grp, v, COUNT(*) AS w FROM __madlaw
                        WHERE v IS NOT NULL GROUP BY 1, 2),
            c1 AS (SELECT grp, v, w,
                          SUM(w) OVER (PARTITION BY grp ORDER BY v) AS cw,
                          SUM(w) OVER (PARTITION BY grp) AS n FROM cv),
            med AS (SELECT grp, MIN(v) AS median FROM c1
                    WHERE 2 * cw >= n GROUP BY 1),
            cvm AS (SELECT cv.grp, cv.v, cv.w, m.median,
                           abs(cv.v - m.median) AS dev
                    FROM cv JOIN med m ON cv.grp <=> m.grp),
            dv AS (SELECT grp, dev, SUM(w) AS w FROM cvm GROUP BY 1, 2),
            c2 AS (SELECT grp, dev, w,
                          SUM(w) OVER (PARTITION BY grp ORDER BY dev) AS cw,
                          SUM(w) OVER (PARTITION BY grp) AS n FROM dv),
            mad AS (SELECT grp, MIN(dev) AS mad FROM c2
                    WHERE 2 * cw >= n GROUP BY 1),
            bands AS (SELECT m.grp, m.median - {k} * d.mad AS lo,
                             m.median + {k} * d.mad AS hi
                      FROM med m JOIN mad d ON m.grp <=> d.grp)
            SELECT t.rid, t.grp, t.v,
                   CASE WHEN t.v IS NOT NULL AND b.lo IS NOT NULL
                        THEN least(greatest(t.v, b.lo), b.hi) END,
                   CASE WHEN t.v IS NOT NULL AND b.lo IS NOT NULL
                             AND (t.v < b.lo OR t.v > b.hi)
                        THEN 1 ELSE 0 END
            FROM __madlaw t LEFT JOIN bands b ON t.grp <=> b.grp
            """
        ).collect()
    )
    for hint in (8, None):  # static-broadcast and hint-less AQE paths
        card = Counter(
            tuple(r)
            for r in grouped_mad_outliers(
                df, "grp", "v", k=k, n_groups_hint=hint
            ).collect()
        )
        assert card == naive_card, ("card", hint)
        rows_out = Counter(
            (r.rid, r.grp, r.v, r.v_winsorized, r.was_clipped)
            for r in winsorize_by_mad(
                df, "grp", "v", k=k, n_groups_hint=hint
            ).collect()
        )
        assert rows_out == naive_rows, ("rows", hint)


@given(
    sizes=st.lists(st.integers(1, 40), min_size=1, max_size=10),
    n_total=st.integers(0, 120),
)
@settings(**_SETTINGS)
def test_proportional_allocation_laws(spark, sizes, n_total):
    """Laws: Hamilton apportionment sums to EXACTLY n_total for any
    non-empty mixture, every allocation is within 1 of its exact quota
    (base <= alloc <= base + 1), and share_ppm is the exact truncating
    corpus share."""
    from dabstract_spark.operators.planning import proportional_allocation

    rows = [(f"g{i}",) for i, n in enumerate(sizes) for _ in range(n)]
    df = spark.createDataFrame(rows, "g string")
    out = proportional_allocation(df, "g", n_total).collect()
    total = sum(sizes)
    assert sum(r.alloc_rows for r in out) == n_total
    by_g = {r.g: r for r in out}
    for i, n in enumerate(sizes):
        r = by_g[f"g{i}"]
        base = (n_total * n) // total
        assert base <= r.alloc_rows <= base + 1
        assert r.share_ppm == n * 10**6 // total
        assert r.n_rows == n


@given(
    vecs=st.lists(
        st.lists(st.integers(-5, 5), min_size=4, max_size=4),
        min_size=3,
        max_size=14,
    ),
    n_centroids=st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_semantic_dedup_matches_brute_force_model(spark, vecs, n_centroids):
    """semantic_dedup == an independent driver-side reference model of
    the whole SemDeDup contract: argmax-cosine centroid assignment
    (ties -> lowest centroid id), then greedily mark every vector with a
    LOWER-id same-cluster neighbor at cosine >= threshold as a
    duplicate. Zero vectors normalize to cosine 0 in both. Exercises
    the keep-one-per-near-set law on arbitrary small corpora, including
    all-identical (one survivor per cluster) and all-orthogonal (all
    kept) regimes the fixtures never hit."""
    import math

    n_centroids = min(n_centroids, len(vecs))
    threshold = 0.8
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    cents = [(i, [float(x) for x in vecs[i]]) for i in range(n_centroids)]
    assign = {}
    for i, v in rows:
        best = max(cents, key=lambda c: (cos(v, c[1]), -c[0]))
        assign[i] = best[0]
    want = set()
    for i, v in rows:
        dup = any(
            j < i and assign[j] == assign[i] and cos(rows[j][1], v) >= threshold
            for j in range(len(rows))
        )
        want.add((i, assign[i], not dup))

    from dabstract_spark.operators.similarity import semantic_dedup

    got = {
        (r.vec_id, r.centroid_id, r.keep)
        for r in semantic_dedup(
            df, cents, threshold=threshold, impl="expr"
        ).collect()
    }
    assert got == want


@given(
    sizes=st.lists(st.integers(1, 25), min_size=1, max_size=5),
    n_total=st.integers(0, 60),
)
@settings(**_SETTINGS)
def test_stratified_sample_laws(spark, sizes, n_total):
    """Σ sampled == min(n_total, corpus) for ANY group-size profile
    (each quota ≤ its group's count by Hamilton construction, so the
    draw can always fill it below the corpus size); per-group ranks are
    contiguous 1..alloc; no group exceeds its own size."""
    from dabstract_spark.operators.select import stratified_sample

    rows = []
    rid = 0
    for gi, sz in enumerate(sizes):
        for _ in range(sz):
            rows.append((rid, f"g{gi}"))
            rid += 1
    df = spark.createDataFrame(rows, "row_id long, g string")
    out = stratified_sample(df, "g", n_total, seed=2).collect()
    corpus = sum(sizes)
    assert len(out) == min(n_total, corpus)
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, []).append(r.strat_rank)
    for gi, sz in enumerate(sizes):
        got = sorted(by_g.get(f"g{gi}", []))
        assert len(got) <= sz
        assert got == list(range(1, len(got) + 1))


# --------------------------------------------------------------------- #
# Sketch-family laws (round-10 operators, property treatment): the
# mergeability claims the streaming twins rest on, asserted over
# arbitrary key multisets and arbitrary partition/batch splits.
# --------------------------------------------------------------------- #
def _parts(keys, cuts):
    """Split a list at sorted cut fractions -> 1-3 sublists."""
    idx = sorted({int(len(keys) * c) for c in cuts})
    out, prev = [], 0
    for i in idx:
        out.append(keys[prev:i])
        prev = i
    out.append(keys[prev:])
    return [p for p in out if p] or [keys]


@given(
    keys=st.lists(st.integers(0, 500), min_size=1, max_size=120),
    cuts=st.lists(st.floats(0.1, 0.9), min_size=0, max_size=2),
)
@settings(**_SETTINGS)
def test_kmv_merge_invariant_under_splits_and_replay(spark, keys, cuts):
    """kmv: merging per-part sketches of ANY split — with one part
    REPLAYED (appended twice) — equals the one-shot sketch of the whole
    multiset, hash row for hash row; duplicates in the key stream never
    matter (the sketch is over distincts)."""
    from dabstract_spark.operators.sketches import kmv_merge, kmv_partials

    k = 8
    whole = spark.createDataFrame([(x,) for x in keys], "u long")
    one_shot = sorted(
        r["h"] for r in kmv_partials(whole, "u", (), k=k).collect()
    )
    parts = _parts(keys, cuts)
    partials = [
        kmv_partials(spark.createDataFrame([(x,) for x in p], "u long"), "u", (), k=k)
        for p in parts
    ]
    partials.append(partials[0])  # replay the first batch
    u = partials[0]
    for p in partials[1:]:
        u = u.unionByName(p)
    merged = sorted(r["h"] for r in kmv_merge(u, (), k=k).collect())
    assert merged == one_shot


@given(d=st.integers(1, 800))
@settings(**_SETTINGS)
def test_kmv_estimator_bounds_on_known_cardinality(spark, d):
    """kmv estimate: EXACT below k (the unfull sketch IS the distinct
    set); above k, within the 3/sqrt(k) relative band the estimator's
    variance bounds imply (generous: 3 sigma)."""
    from dabstract_spark.operators.sketches import kmv_estimate, kmv_partials

    k = 64
    df = spark.createDataFrame([(x,) for x in range(d) for _ in (0, 1)], "u long")
    row = kmv_estimate(kmv_partials(df, "u", (), k=k), (), k=k).collect()[0]
    if d < k:
        assert row["n_kept"] == d and row["est_distinct"] == d
    else:
        assert row["n_kept"] == k
        assert abs(row["est_distinct"] - d) <= max(4 * d / (k ** 0.5), 2)


@given(
    keys=st.lists(st.integers(0, 500), min_size=1, max_size=120),
    cuts=st.lists(st.floats(0.1, 0.9), min_size=0, max_size=2),
)
@settings(**_SETTINGS)
def test_hll_register_merge_idempotent_under_replay(spark, keys, cuts):
    """hll: max-merge of per-part register tables — with a replayed
    part AND the merged table merged with itself — equals the one-shot
    registers, so the streaming twin's stream==batch claim holds for
    any batching and any replay."""
    from dabstract_spark.operators.sketches import hll_card, hll_merge, hll_partials

    whole = spark.createDataFrame([(x,) for x in keys], "u long")
    one_shot = hll_partials(whole, "u", ())
    want_regs = sorted(map(tuple, one_shot.collect()))
    want_card = sorted(map(tuple, hll_card(one_shot, ()).collect()))
    parts = _parts(keys, cuts)
    partials = [
        hll_partials(spark.createDataFrame([(x,) for x in p], "u long"), "u", ())
        for p in parts
    ]
    partials.append(partials[-1])  # replay the last batch
    u = partials[0]
    for p in partials[1:]:
        u = u.unionByName(p)
    merged = hll_merge(u, ())
    twice = hll_merge(merged.unionByName(merged), ())  # self-merge idempotence
    assert sorted(map(tuple, twice.collect())) == want_regs
    assert sorted(map(tuple, hll_card(twice, ()).collect())) == want_card


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 100)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(1, 12),
    cuts=st.lists(st.floats(0.1, 0.9), min_size=0, max_size=2),
)
@settings(**_SETTINGS)
def test_weighted_reservoir_merge_equals_one_shot(spark, rows, n, cuts):
    """weighted sampling: top-n of the union of per-batch top-n partials
    equals the one-shot top-n over the whole corpus (the mergeable
    A-ES reservoir law the streaming twin rests on) — any batching,
    unique keys (the documented contract)."""
    from dabstract_spark.operators.select import weighted_sample_n

    schema = "doc_id long, w long"
    whole = spark.createDataFrame(rows, schema)
    want = sorted(
        map(tuple, weighted_sample_n(whole, n, "w", seed=3, key="doc_id").collect())
    )
    parts = _parts(rows, cuts)
    partial_rows = []
    for p in parts:
        pdf = spark.createDataFrame(p, schema)
        partial_rows += [
            (r["doc_id"], int(r["weight"]))
            for r in weighted_sample_n(pdf, n, "w", seed=3, key="doc_id").collect()
        ]
    union = spark.createDataFrame(partial_rows, schema)
    got = sorted(
        map(tuple, weighted_sample_n(union, n, "w", seed=3, key="doc_id").collect())
    )
    assert got == want
