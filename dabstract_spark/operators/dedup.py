"""Deduplication operators for training-data pipelines (SURVEY §7-M6).

Four families, each with a distinct scale profile:

- **exact**: hash-groupBy on normalized content. One shuffle on a
  *precomputed* content-hash column (computed once, before the exchange);
  survivor = min id per group (deterministic).
- **MinHash + LSH**: per-row signatures are pure array HOFs over a staged
  shingle column (shingles computed once, not once per hash); banding
  buckets candidates, and candidate pairs are generated by a
  groupBy-collect over the band key — one shuffle, no self-join, no
  recomputation of the signature pipeline. The classic sub-quadratic
  near-dup path for 100 TB corpora (Broder '97).
- **SimHash**: per-row bit-majority fingerprint (pure expressions);
  near-dups = equal fingerprints.
- **n-gram Jaccard**: inverted-index over shingles with a
  document-frequency cap (prefix-filtering): a shingle shared by d docs
  yields d² candidate rows, so hot "stop-shingles" are dropped before the
  pair stage — the standard skew guard at scale.

Rows whose content produces no hash (NULL/empty text) pass through dedup
unchanged — unrelated empty docs are not duplicates of each other.

All hashes are md5-derived → identical in DuckDB, so every family is
oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from dabstract_spark.core import bind_once as _bind
from dabstract_spark.core import loop_actions as _loop_actions
from dabstract_spark.operators.text import _tokens_sql, shingles_from_tokens, tokens


def normalize_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def _min_id_per(df: DataFrame, hash_col: Column, id_col: str) -> DataFrame:
    """Keep the min-id row per hash group; NULL-hash rows form singleton
    groups (pass through) by salting the key with their own id."""
    out = df.withColumn(
        "__h", F.coalesce(hash_col.cast("string"), F.concat(F.lit("null:"), F.col(id_col)))
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col))
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__h")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per exact (normalized) content group.

    The hash is materialized as a column BEFORE the window so it is
    computed once and the exchange/sort operate on the 32-byte digest,
    never re-evaluating the full-document normalization."""
    return _min_id_per(df, F.md5(normalize_text(text_col)), id_col)


def _pairs_from_ids_sql(ids: str) -> str:
    """SQL form of the pair generator (same HOF tree)."""
    return (
        f"flatten(transform({ids}, (x, i) -> "
        f"transform(slice({ids}, i + 2, size({ids})), "
        f"y -> struct(x AS id_a, y AS id_b))))"
    )


def _pairs_from_ids(ids_name: str) -> Column:
    """All ordered pairs (a < b) from a sorted distinct id array column
    (by NAME) — the band-bucket pair generator. Pure HOF expression,
    parsed once (r12 chatter cut)."""
    return F.expr(_pairs_from_ids_sql(f"`{ids_name}`"))


def _capped_shingle_buckets(sh: DataFrame, max_df: int | None) -> DataFrame:
    """(sh, __ids sorted array) buckets from an exploded (id, sh) table,
    with the ``max_df`` document-frequency cap applied BEFORE any
    ``collect_list``: hot shingles are identified by a pre-count
    (map-side partial agg, the shuffle carries one count per distinct
    shingle) and excluded via a semi-join, so an over-``max_df`` bucket
    is never materialized as an array in any task. The old
    collect-then-filter shape discarded hot buckets only *after* one
    task had built the whole id array — a stop-shingle in 10^8 docs was
    a single-task OOM even though its pairs were never emitted. Output
    is byte-identical (the cap's semantics — exclude the shingle from
    candidate generation entirely — are unchanged). Same pre-count
    discipline as :func:`decontaminate`'s test-side df cap."""
    if max_df is None:
        return sh.groupBy("sh").agg(F.sort_array(F.collect_list("id")).alias("__ids"))
    ok = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_df)
        .select("sh")
    )
    return (
        sh.join(ok, "sh", "left_semi")
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list("id")).alias("__ids"))
    )


# Universal-hash MinHash family: ONE md5 per shingle folded to a 60-bit
# int, then n cheap (a_i * h + b_i) mod p transforms. Identical in DuckDB
# (same md5 prefix, same 64-bit integer arithmetic — products stay under
# 2^36 so nothing overflows BIGINT in either engine).
MINHASH_P = 2_147_483_647  # 2^31 - 1


def _shingle_hash_sql(s: str) -> str:
    """md5 prefix → bigint in [0, p): the one expensive hash per unit."""
    return f"(cast(conv(substring(md5({s}), 1, 15), 16, 10) as bigint) % {MINHASH_P})"


#: polynomial base for combining token hashes into shingle hashes
MINHASH_B = 131


# The family's expression builders compose SQL snippets and parse ONCE
# with F.expr (optimization r12): the Column-by-Column forms cost
# hundreds to thousands of py4j round trips per call (n_hashes
# transforms x HOF-lambda plumbing), a pure driver-latency tax. The
# snippets spell out the identical expression trees, so signatures —
# and every oracle hash downstream — are unchanged (equality with the
# staged pipeline is unit-tested in test_clustering_sampling.py).
def _poly_shingle_hashes_sql(th: str, k: int) -> str:
    """SQL form of the shingle-hash fold: for window start i,
    acc = (acc*B + th[i+j]) mod p over the k tokens — order-sensitive,
    uniform (inputs already md5-uniform), identical arithmetic in DuckDB
    (acc*B < 2^39, no BIGINT overflow). Rows with fewer than k tokens
    yield an empty array (shingle parity)."""
    acc = "cast(0 as bigint)"
    for j in range(k):
        acc = f"(({acc} * {MINHASH_B} + element_at({th}, i + {j})) % {MINHASH_P})"
    return (
        f"(CASE WHEN size({th}) >= {k} THEN "
        f"transform(sequence(1, size({th}) - {k - 1}), i -> {acc}) "
        f"ELSE cast(array() as array<bigint>) END)"
    )


def _signature_over_hashes_sql(hs: str, n_hashes: int) -> str:
    """SQL form of the MinHash signature: min of (a_i*h + b_i) mod p per
    hash function over the staged base-hash array."""
    mins = ",".join(
        f"array_min(transform({hs}, h -> (h * {2 * i + 1} + {7919 * i}) % {MINHASH_P}))"
        for i in range(n_hashes)
    )
    return f"(CASE WHEN size({hs}) > 0 THEN array({mins}) END)"


def _signature_over_hashes(hs_name: str, n_hashes: int) -> Column:
    """MinHash signature from a STAGED base-hash array column (by name)."""
    return F.expr(_signature_over_hashes_sql(f"`{hs_name}`", n_hashes))


def _staged_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int, extra_cols: tuple = ()
) -> DataFrame:
    """(id, __hs): the staged shingle-hash pipeline shared by
    ``minhash_bands`` and ``minhash_profile`` — ONE place defines the
    signature recipe, so an estimator-quality eval (q202) can never
    silently compare signatures built from a drifted twin.

    Three-stage pipeline of staged columns: tokens (regex split once),
    per-TOKEN md5 (the only expensive hash — tokens are shorter than
    joined shingle strings and hashed once even though each token sits
    in k shingles), then per-shingle polynomial combination — every
    later transform is pure integer arithmetic, no string building.
    Short rows (< k tokens → NULL signature) are dropped HERE, where the
    predicate is cheap: a late isNotNull() on the signature gets
    predicate-pushed below every staged projection and inlined into one
    interpreted filter expression, where element_at(<token-md5
    transform>, i+j) re-evaluates the whole transform per window
    element — O(tokens²) md5 calls per row (measured 60s vs 2s at
    sf0.1)."""
    extras = [f"`{c}`" for c in extra_cols]
    tok = df.selectExpr(
        f"`{id_col}`", *extras, _tokens_sql(f"`{text_col}`") + " AS __t"
    ).filter(F.expr(f"size(__t) >= {k}"))
    thash = tok.selectExpr(
        f"`{id_col}`",
        *extras,
        f"transform(__t, u -> {_shingle_hash_sql('u')}) AS __th",
    )
    return thash.selectExpr(
        f"`{id_col}`", *extras, _poly_shingle_hashes_sql("`__th`", k) + " AS __hs"
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band_id, band_hash): LSH banding of the MinHash signature —
    rows agreeing on any full band are candidate near-duplicates.

    The shingle array is staged as a real column so the tokenize+shingle
    work runs once per row; the 16 per-hash transforms iterate the staged
    array (Catalyst keeps multiply-referenced non-cheap projections
    un-inlined since SPARK-36718)."""
    if n_hashes % bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}); "
            "a remainder would silently weaken LSH recall"
        )
    rows_per_band = n_hashes // bands
    hashed = _staged_shingle_hashes(df, id_col, text_col, k)
    sig = hashed.select(
        F.col(id_col), _signature_over_hashes("__hs", n_hashes).alias("__sig")
    )
    band_cols = ", ".join(
        f"struct({b} AS band_id, md5(array_join(slice(__sig, "
        f"{b * rows_per_band + 1}, {rows_per_band}), ',')) AS band_hash)"
        for b in range(bands)
    )
    return (
        sig.withColumn("__band", F.expr(f"explode(array({band_cols}))"))
        .select(id_col, F.col("__band.band_id"), F.col("__band.band_hash"))
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing ≥1 LSH band.

    Shape: ONE shuffle on the band key, groupBy-collect the (few) ids per
    bucket, expand pairs with an array HOF, distinct. The signature
    pipeline is evaluated exactly once — no self-join, no cached side.

    ``max_bucket`` caps each band bucket BEFORE the collect: a bucket of
    d ids materializes a d-element array in one task and emits d² pairs,
    so one hot band (millions of boilerplate near-identical docs sharing
    a full band) is a single-task OOM / quadratic bomb at corpus scale —
    the same skew bomb ``jaccard_pairs`` caps with ``max_df`` and
    ``embedding_neardup_pairs`` with its ``max_bucket``. The keep-set is
    the md5-min prefix of the bucket (deterministic, reproducible,
    oracle-expressible as a QUALIFY row_number); rows beyond the cap in
    an over-full bucket are excluded from candidate generation there —
    a documented recall trade that in practice costs nothing, because a
    bucket that hot is one giant duplicate class whose kept members
    still chain it together through the cluster step."""
    b = minhash_bands(df, id_col, text_col, n_hashes, bands, k)
    if max_bucket is not None:
        from pyspark.sql import Window

        from dabstract_spark.functions.hashing import md5_order

        w = Window.partitionBy("band_id", "band_hash").orderBy(
            md5_order(id_col, seed)
        )
        # rank-filter streams the hot bucket through one sort task with
        # bounded memory — nothing is materialized per group until after
        # the cap
        b = (
            b.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket)
            .drop("__rn")
        )
    grouped = (
        b.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") > 1)
    )
    return (
        grouped.select(F.explode(_pairs_from_ids("__ids")).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )


def _simhash_over_hexes_sql(hx: str, bits: int) -> str:
    """SQL form of SimHash over a staged md5-hex array: bit b = majority
    vote of hex-nibble-b parity across tokens. References only attribute
    columns, so the 16 per-bit filters scan a precomputed array.

    (A parse-the-prefix-once variant — one conv per token plus pure bit
    arithmetic through a lambda-bound mask array — measured ~1.7x SLOWER
    than these per-bit 1-char convs at sf0.1: the bind indirection and
    per-token shift chains cost more than the short convs they save.)"""
    acc = "cast(0 as bigint)"
    for b in range(bits):
        ones = (
            f"size(filter({hx}, h -> "
            f"cast(conv(substring(h, {b + 1}, 1), 16, 10) as int) % 2 = 1))"
        )
        bit = f"cast(({ones} * 2 > size({hx})) as bigint)"
        acc = f"({acc} + {bit} * cast({2 ** b} as bigint))"
    return f"(CASE WHEN size({hx}) > 0 THEN {acc} END)"


def _simhash_over_hexes(hx_name: str, bits: int) -> Column:
    """SimHash from a STAGED md5-hex array column (by name); one F.expr
    parse of the per-bit majority fold (r12 chatter cut, same tree)."""
    return F.expr(_simhash_over_hexes_sql(f"`{hx_name}`", bits))


def simhash(col: str, bits: int = 16) -> Column:
    """SimHash fingerprint as a single expression — for callers that
    can't stage columns. The token-md5 array is lambda-bound (SQL
    bind_once spelling) so md5 runs once per token even though every
    per-bit term references it; ``simhash_df`` offers the same pipeline
    as staged columns."""
    hx = f"transform({_tokens_sql(f'`{col}`')}, u -> md5(u))"
    return F.expr(
        f"element_at(transform(array({hx}), a -> {_simhash_over_hexes_sql('a', bits)}), 1)"
    )


def simhash_df(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16, out_col: str = "simhash"
) -> DataFrame:
    """(id, simhash): staged two-step pipeline — tokenize once, md5 once
    per token, then the per-bit majority votes iterate the staged hex
    array (16 array scans of precomputed strings, no re-hashing)."""
    tok = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    hexed = tok.select(F.col(id_col), F.transform(F.col("__t"), F.md5).alias("__hx"))
    return hexed.select(
        F.col(id_col), _simhash_over_hexes("__hx", bits).alias(out_col)
    )


def simhash_dedup(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """Keep min-id row per identical simhash; token-less rows (NULL
    fingerprint) pass through unchanged rather than deduping against each
    other. The token-md5 array is staged so md5 runs once per token."""
    hexed = df.withColumn("__hx", F.transform(tokens(text_col), lambda x: F.md5(x)))
    return _min_id_per(hexed, _simhash_over_hexes("__hx", bits), id_col).drop("__hx")


#: Edge-count ceiling for the single-task union-find fast path in
#: ``connected_components`` (read at call time). At or under this, the
#: whole component labeling runs as ONE executor task (O(E·α) union-find
#: over Arrow batches) instead of diameter-many shuffle rounds; above it,
#: the distributed propagation loop runs unchanged. 2^20 edges is a few
#: MB of Arrow payload and a bounded Python dict — the same "bounded by
#: construction, single task" budget the two-level top-k merge uses.
CC_LOCAL_MAX = 1 << 20


def _single_task_components(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """(__id, __comp) labels for every edge participant, computed by
    union-find inside ONE executor task — callers guarantee the edge
    set is bounded (see ``CC_LOCAL_MAX``). Deterministic: the label is
    the component's minimum member id, independent of edge order.
    Callers drop NULL endpoints first (Arrow would hand a nullable id to
    pandas as a float NaN, and NaN != NaN never terminates ``find``);
    both endpoints are cast to the type the distributed loop's
    src/dst union widens them to."""
    a, b = edges.selectExpr(f"`{src_col}` AS __a"), edges.selectExpr(f"`{dst_col}` AS __b")
    id_dtype = a.union(b).dtypes[0][1]

    def _uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[rb] = ra
        if not parent:
            return
        comp_min: dict = {}
        for n in parent:
            r = find(n)
            m = comp_min.get(r)
            if m is None or n < m:
                comp_min[r] = n
        ids = list(parent)
        yield pd.DataFrame(
            {"__id": ids, "__comp": [comp_min[find(n)] for n in ids]}
        )

    return (
        edges.select(F.col(src_col).cast(id_dtype), F.col(dst_col).cast(id_dtype))
        .coalesce(1)
        .mapInPandas(_uf, f"__id {id_dtype}, __comp {id_dtype}")
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, cluster_id): undirected connected components by iterative
    min-label propagation — the step that turns candidate *pairs* into
    duplicate *clusters* (cluster_id = min member id; singletons keep
    their own id).

    Each iteration is ONE shuffle: join labels to the symmetrized edge
    list, take the min neighbor label per node, fold it in with
    ``least``. ``localCheckpoint`` truncates the lineage every round so
    plan size stays constant, and convergence (no label changed) is
    detected from a counter on the same materialized result — no extra
    scan. Rounds needed = graph diameter; near-dup clusters are
    shallow (usually 2-3 rounds). Above ``CC_LOCAL_MAX`` edges, a graph
    whose diameter exceeds ``max_iter`` raises ``RuntimeError``.
    """
    # bounded-edges fast path (r13, guide §1.2 — fix the algorithm before
    # the per-round costs): component labeling is a sequential O(E·α)
    # union-find once the edge set fits one task, and near-dup candidate
    # pairs after banding are usually a tiny fraction of the corpus. The
    # probe is limit(cap+1).count() — it early-exits partition-by-
    # partition on a huge edge set instead of paying a full count, and on
    # the (checkpointed) production pair tables it reads cached blocks.
    # At or under the cap, ONE mapInPandas task labels every participant
    # (same min-label outputs, pinned by the local-vs-distributed
    # equality test); above it, the propagation loop below runs
    # unchanged. The edge pipeline runs at most one extra bounded pass
    # for the probe — the loop itself re-executes `sym` every round, so
    # callers already keep `edges` cheap (checkpointed). A NULL
    # endpoint is no edge, on both paths.
    edges = edges.where(F.col(src_col).isNotNull() & F.col(dst_col).isNotNull())
    if CC_LOCAL_MAX > 0 and edges.limit(CC_LOCAL_MAX + 1).count() <= CC_LOCAL_MAX:
        # LAZY checkpoint: labels feeds BOTH union legs (clustered + the
        # singleton anti-join) — without the cut the union-find task
        # would run twice per downstream action
        labels = _single_task_components(edges, src_col, dst_col).localCheckpoint(
            eager=False
        )
    else:
        labels = _propagated_labels(edges, src_col, dst_col, max_iter)
    # only edge participants are labeled on either path — in a real
    # corpus the overwhelming majority of rows have no candidate pair;
    # they are re-attached as singleton clusters with one anti-join
    clustered = labels.select(
        F.col("__id").alias(id_col), F.col("__comp").alias("cluster_id")
    )
    singletons = nodes.join(
        labels, nodes[id_col] == labels["__id"], "left_anti"
    ).select(F.col(id_col), F.col(id_col).alias("cluster_id"))
    return clustered.union(singletons)


def _propagated_labels(
    edges: DataFrame, src_col: str, dst_col: str, max_iter: int
) -> DataFrame:
    """(__id, __comp) labels for every edge participant by min-label
    propagation: ``connected_components``' path above the cap."""
    sym = edges.selectExpr(
        f"`{src_col}` AS __src", f"`{dst_col}` AS __dst"
    ).union(edges.selectExpr(f"`{dst_col}` AS __src", f"`{src_col}` AS __dst"))
    labels = sym.selectExpr("__src AS __id").distinct().selectExpr(
        "__id", "__id AS __comp"
    )
    # loop_actions (r12): AQE off — each convergence count over the
    # 3-exchange round plan re-plans and launches a JOB PER QUERY STAGE
    # under AQE (~4-5 jobs/round measured) on a frame that is
    # edge-participants-sized and needs no runtime re-optimization —
    # plus loop-sized shuffle partitions (measured: q117/q84/q188 warm
    # walls halved). The RETURNED frame executes under the caller's conf.
    with _loop_actions(edges.sparkSession):
        for it in range(max_iter):
            nbr_min = (
                sym.join(labels, sym["__src"] == labels["__id"])
                .groupBy("__dst")
                .agg(F.expr("min(__comp) AS __nbr"))
            )
            upd = labels.join(
                nbr_min, labels["__id"] == nbr_min["__dst"], "left"
            ).selectExpr(
                "__id",
                "least(__comp, coalesce(__nbr, __comp)) AS __comp",
                "(__nbr < __comp) AS __chg",
            )
            # LAZY checkpoint: the convergence counter below is the first
            # action over it, so ONE job both materializes the round and
            # counts changes (eager=True ran a materialization job AND a
            # counter job per round — r12, halves the loop's job count;
            # lineage truncation is identical)
            upd = upd.localCheckpoint(eager=False)
            # round 1 always changes something when any edge exists (every
            # edge (a, b), a < b lowers b's label), so skip its convergence
            # job unless it is the last round; an empty edge set just takes
            # one extra (empty, cheap) round
            if it == 0 and max_iter > 1:
                changed = 1
            else:
                changed = upd.agg(F.count_if("__chg")).first()[0]
            labels = upd.drop("__chg")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in max_iter={max_iter} rounds"
            )
    return labels


def minhash_dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id, cluster_id): full near-dup clustering — MinHash/LSH candidate
    pairs, then connected components. Every row of ``df`` appears exactly
    once; docs with no near-duplicate form singleton clusters.

    ``max_bucket`` (see ``minhash_candidate_pairs``) bounds hot band
    buckets. Clustering is robust to the cap: the kept md5-min prefix of
    an over-full bucket still pairs its members with each other, so the
    duplicate CLASS survives — only edges to the sampled-out members of
    that one bucket are lost, and those members usually share other
    (smaller) band buckets that re-attach them."""
    pairs = minhash_candidate_pairs(
        df, id_col, text_col, n_hashes, bands, k, max_bucket=max_bucket
    )
    # the pair table is consumed twice by the propagation loop's first
    # round (both edge directions) and is tiny relative to df — persist.
    # LAZY: the loop's first-round job materializes it (one fused job
    # instead of a dedicated materialization job — r12)
    pairs = pairs.localCheckpoint(eager=False)
    return connected_components(df.select(id_col), pairs, id_col=id_col)


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle
    (inverted-index self-join — never the full cross product).
    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold.

    ``max_df`` (document-frequency cap, prefix filtering): shingles shared
    by more than max_df documents are excluded from *candidate generation*
    — a shingle in d docs makes d² pair rows, so without the cap one hot
    stop-shingle is a quadratic skew bomb at scale. Denominators still
    count ALL shingles while hot shingles leave the intersection count,
    so a capped run can only lose candidate pairs or lower a reported
    similarity (standard prefix-filter recall trade) — never raise one
    or invent a pair (property-tested in tests/test_properties.py).

    The exploded shingle table feeds two branches (sizes + pairs); it is
    persisted so tokenize/shingle/explode runs once.
    """
    sh = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
        .select(
            "id",
            F.explode(F.array_distinct(shingles_from_tokens(F.col("__t"), k))).alias("sh"),
        )
        .persist()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    buckets = _capped_shingle_buckets(sh, max_df)
    common = (
        buckets.filter(F.size("__ids") > 1)
        .select(F.explode(_pairs_from_ids("__ids")).alias("__p"))
        .groupBy(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_against(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    near_bits: int | None = None,
    simhash_bits: int = 16,
) -> DataFrame:
    """Incremental dedup: drop rows of ``new_df`` whose content already
    exists in ``seen_df`` (the existing corpus) — the dedup pass every
    recurring crawl/ingest runs against its accumulated reference set.

    Exact mode (default): left ANTI join on the normalized-content md5 —
    the shuffle carries 32-byte digests; at scale the seen side is a
    digest table you keep materialized (bucketed by digest), so each
    ingest is one co-located anti-join, not a rescan of the corpus.

    ``near_bits=k``: additionally drops new rows whose SimHash is within
    Hamming distance k of some seen row IN THE SAME simhash band bucket
    (the standard candidate restriction — distance ≤ k with k < bits/2
    implies at least one identical half, so bucketing on both halves
    finds every such pair without an all-pairs scan).
    """
    if "__h" in new_df.columns:
        raise ValueError("new_df already carries the reserved column '__h'")
    new_h = new_df.withColumn("__h", F.md5(normalize_text(text_col)))
    seen_h = seen_df.select(F.md5(normalize_text(text_col)).alias("__h")).distinct()
    out = new_h.join(seen_h, "__h", "left_anti")
    if near_bits is None:
        return out.drop("__h")
    if near_bits >= simhash_bits // 2:
        raise ValueError("near_bits must be < simhash_bits/2 for half-band bucketing")
    half = simhash_bits // 2
    n2 = out.drop("__h").withColumn("__sh", simhash(text_col, bits=simhash_bits))
    s2 = seen_df.select(simhash(text_col, bits=simhash_bits).alias("__sh2")).distinct()
    # band on either half: distance <= near_bits < half implies one half
    # is identical (pigeonhole), so the union of the two half-joins is a
    # superset of all near pairs
    lo = lambda c: F.expr(f"{c} % {1 << half}")  # noqa: E731
    hi = lambda c: F.expr(f"{c} div {1 << half}")  # noqa: E731
    near_ids = None
    for band in (lo, hi):
        cand = n2.join(
            s2, band("__sh") == band("__sh2"), "inner"
        ).filter(F.expr(f"bit_count(__sh ^ __sh2) <= {near_bits}"))
        ids = cand.select(F.col(id_col)).distinct()
        near_ids = ids if near_ids is None else near_ids.union(ids).distinct()
    return n2.join(near_ids, id_col, "left_anti").drop("__sh")


def contamination_check(
    train_df: DataFrame,
    test_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Train/test contamination audit: for every test document, how much
    of its k-token shingle set also appears anywhere in the training
    corpus (the standard eval-set leakage check run before training).

    Returns (id, n_shingles, n_overlap, overlap_frac) per test doc with
    at least one shingle; overlap_frac = n_overlap / n_shingles.

    Shape at scale: the train side is reduced to its DISTINCT shingle
    set (map-side partial distinct, then one shuffle on the shingle);
    the test side explodes and left-joins that set — a plain hash join
    on the shingle key, never doc×doc. ``max_df`` drops shingles that
    occur in more than max_df *train* docs (boilerplate guard, same
    prefix-filter trade as jaccard_pairs: a capped run can only lower
    overlap counts, never invent overlap).
    """
    test_sh = test_df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__t")
    ).select(
        "id",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("__t"), k))).alias("sh"),
    )
    train_sh = train_df.select(
        F.col(id_col).alias("tid"), tokens(text_col).alias("__t")
    ).select(
        "tid",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("__t"), k))).alias("sh"),
    )
    if max_df is None:
        train_set = train_sh.select("sh").distinct().withColumn("__hit", F.lit(1))
    else:
        train_set = (
            train_sh.groupBy("sh")
            .agg(F.countDistinct("tid").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("sh")
            .withColumn("__hit", F.lit(1))
        )
    return (
        test_sh.join(train_set, "sh", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap"),
        )
        .withColumn(
            "overlap_frac", F.round(F.col("n_overlap") / F.col("n_shingles"), 6)
        )
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the RefinedWeb /
    MassiveText line-dedup step): every paragraph that occurs more than
    once across the whole corpus is kept only at its FIRST occurrence
    (lowest (id, position)); documents are re-assembled from their
    surviving paragraphs.

    Returns (id, n_paras, n_kept, cleaned_md5) — the md5 of the
    re-assembled document, so the full reshaped text never has to leave
    the executors.

    Shape at scale: paragraphs explode to (id, pos, para) rows hashed to
    a 32-byte digest; the keeper per digest is found with a groupBy-min
    over struct(id, pos) — map-side partial aggregation collapses hot
    boilerplate paragraphs (cookie banners repeated across millions of
    pages) BEFORE the exchange, so the classic skew bomb of this
    operator never reaches the shuffle. A window over the digest would
    ship every occurrence of the hot key to one task; the agg+join form
    ships one row per (digest, map-partition). Re-assembly groups by the
    document id — the natural partitioning of every downstream step.
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep, -1)
        ).alias("pos", "para"),
    ).withColumn("__h", F.md5(F.col("para")))
    keepers = paras.groupBy("__h").agg(
        F.min(F.struct(F.col("id"), F.col("pos"))).alias("__keep")
    )
    flagged = paras.join(keepers, "__h").withColumn(
        "__kept",
        (F.col("id") == F.col("__keep.id")) & (F.col("pos") == F.col("__keep.pos")),
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_paras"),
            F.sum(F.col("__kept").cast("int")).cast("int").alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        F.col("__kept"),
                                        F.struct(F.col("pos"), F.col("para")),
                                    )
                                )
                            ),
                            lambda s: s.isNotNull(),
                        ),
                        lambda s: s["para"],
                    ),
                    sep,
                )
            ).alias("cleaned_md5"),
        )
        .withColumnRenamed("id", id_col)
    )


def _fuzzy_keyed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int,
    key_len: int,
    max_block: int | None,
    seed: int,
) -> DataFrame:
    """Shared prefix-blocking stage of fuzzy_pairs / fuzzy_join:
    (id, __k, __b) with the optional md5-deterministic per-block member
    cap applied BEFORE any join — one staging recipe so the two
    consumers can never drift apart."""
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.substring(normalize_text(text_col), 1, key_len).alias("__k"),
    ).withColumn("__b", F.substring(F.col("__k"), 1, prefix_len))
    if max_block is not None:
        from pyspark.sql import Window

        from dabstract_spark.functions.hashing import md5_order

        w = Window.partitionBy("__b").orderBy(md5_order("id", seed))
        # rank-filter streams a hot block through one bounded sort task;
        # nothing is materialized per block and the O(b²) join never
        # sees more than max_block members per key
        keyed = (
            keyed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_block)
            .drop("__rn")
        )
    return keyed


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 4,
    key_len: int = 40,
    max_dist: int = 5,
    max_block: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Edit-distance near-duplicates with prefix blocking: candidate
    pairs share the first ``prefix_len`` normalized characters, and a
    pair survives if the Levenshtein distance of their ``key_len``-char
    keys is <= ``max_dist`` — the record-linkage classic for typo'd
    titles/names that shingle methods miss (one transposed character
    changes every k-gram that covers it, but costs edit distance 1-2).

    Returns (id_a, id_b, dist), id_a < id_b.

    Shape at scale: blocking turns all-pairs into per-block self-joins —
    one shuffle on the block key; levenshtein (O(key_len^2) per pair,
    JVM-side) runs only inside blocks. Block-size skew follows hot
    prefixes: a boilerplate prefix shared by b docs is O(b²) pair
    evaluations landing in one join task, so ``max_block`` caps each
    block BEFORE the self-join with the md5-min keep-set used by
    ``minhash_candidate_pairs`` — a deterministic, oracle-expressible
    (QUALIFY row_number) prefix of the block; members beyond the cap in
    an over-full block are excluded from candidate generation there.
    Documented recall trade: a block that hot is boilerplate whose kept
    members still surface the duplicate class; widen ``prefix_len`` to
    shrink blocks structurally instead (at the cost of missing
    prefix-breaking edits).
    """
    keyed = _fuzzy_keyed(df, id_col, text_col, prefix_len, key_len, max_block, seed)
    a, b = keyed.alias("a"), keyed.alias("b")
    # threshold form of levenshtein: banded O(key_len * max_dist) DP
    # with early exit (returns -1 above the bound) instead of the full
    # O(key_len^2) matrix — the per-pair cost IS this operator's cost
    return (
        a.join(b, (F.col("a.__b") == F.col("b.__b")) & (F.col("a.id") < F.col("b.id")))
        .withColumn(
            "dist", F.levenshtein(F.col("a.__k"), F.col("b.__k"), max_dist)
        )
        .filter(F.col("dist") >= 0)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "dist")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_text: str,
    right_text: str,
    prefix_len: int = 4,
    key_len: int = 40,
    max_dist: int = 5,
    max_block: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Cross-table record linkage: match rows of ``left`` to rows of
    ``right`` whose normalized ``key_len``-char keys are within
    Levenshtein ``max_dist``, candidates restricted to pairs sharing the
    first ``prefix_len`` normalized characters — the two-dataset form of
    :func:`fuzzy_pairs` (entity resolution across a master table and a
    typo'd registry, not dedup within one corpus).

    Returns (``left_id``, ``right_id``, dist) — a left row may match
    several right rows and vice versa; take top-1 per side downstream if
    a 1:1 linkage is wanted.

    Shape at scale: both sides stage through the SAME
    :func:`_fuzzy_keyed` recipe (shared with fuzzy_pairs so the
    normalization can never drift), shuffle once on the block key, and
    the banded JVM levenshtein runs only inside blocks. ``max_block``
    caps EACH side's block membership before the join, bounding a hot
    boilerplate prefix to max_block² cross-pairs instead of b_l·b_r in
    one task."""
    L = _fuzzy_keyed(left, left_id, left_text, prefix_len, key_len, max_block, seed)
    R = _fuzzy_keyed(right, right_id, right_text, prefix_len, key_len, max_block, seed)
    a, b = L.alias("a"), R.alias("b")
    return (
        a.join(b, F.col("a.__b") == F.col("b.__b"))
        .withColumn("dist", F.levenshtein(F.col("a.__k"), F.col("b.__k"), max_dist))
        .filter(F.col("dist") >= 0)
        .select(
            F.col("a.id").alias(left_id),
            F.col("b.id").alias(right_id),
            "dist",
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold_ppm: int = 700000,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT — |A∩B| / |A| — the near-dup
    signal Jaccard misses: a short document quoted wholesale inside a
    long one has tiny Jaccard (the union is huge) but containment ≈ 1
    on the short side. Standard companion to jaccard_pairs for
    boilerplate/quotation detection in LLM-corpus curation.

    Same inverted-index candidate machinery as :func:`jaccard_pairs`
    (one shingle explode feeding sizes + bucketed pair expansion, the
    ``max_df`` hot-shingle cap killing the quadratic skew bomb), but
    the score is reported per DIRECTION in exact integer ppm
    (``1e6·inter div n`` — bit-identical cross-engine, no float
    division). A pair is emitted once (id_a < id_b) with both
    containments; ``threshold_ppm`` keeps pairs where EITHER direction
    reaches it."""
    sh = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
        .select(
            "id",
            F.explode(F.array_distinct(shingles_from_tokens(F.col("__t"), k))).alias("sh"),
        )
        .persist()
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    buckets = _capped_shingle_buckets(sh, max_df)
    common = (
        buckets.filter(F.size("__ids") > 1)
        .select(F.explode(_pairs_from_ids("__ids")).alias("__p"))
        .groupBy(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("1000000 * n_common div n_a").cast("bigint").alias("contain_a_ppm"),
            F.expr("1000000 * n_common div n_b").cast("bigint").alias("contain_b_ppm"),
        )
        .filter(
            (F.col("contain_a_ppm") >= threshold_ppm)
            | (F.col("contain_b_ppm") >= threshold_ppm)
        )
    )


def minhash_profile(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(id, hs, sig): each row's DISTINCT shingle-hash set alongside its
    MinHash signature — the staged inputs for estimator-quality
    evaluation (how well does sig-agreement approximate true shingle
    Jaccard?). The staging IS ``minhash_bands``'s (one shared helper —
    ``_staged_shingle_hashes`` — so the signature recipe cannot drift
    between the production path and this evaluator)."""
    hashed = _staged_shingle_hashes(df, id_col, text_col, k)
    return hashed.select(
        F.col(id_col),
        F.array_distinct("__hs").alias("hs"),
        _signature_over_hashes("__hs", n_hashes).alias("sig"),
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """(id, fp): winnowed document fingerprints — per window of
    ``window`` consecutive k-gram hashes, keep the MINIMUM hash; the
    distinct minima are the document's fingerprint set (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003 — the MOSS scheme). The winnowing
    guarantee: any shared token run of ≥ window+k-1 tokens contains a
    full shared hash window, whose minimum lands in BOTH fingerprint
    sets — so sufficiently long overlaps are always detected while
    storing ~1/window of the shingle hashes (the density/guarantee
    trade the whole-document ``text.fingerprint`` can't offer).

    This variant keeps fingerprint VALUES (not (pos, hash) pairs — the
    positions only matter for locating matches, not detecting them),
    so the output is a plain relational (id, fp) set. Staging is the
    shared ``_staged_shingle_hashes`` pipeline (one md5 per token);
    the per-window minima are an array HOF over the staged hash array
    — no extra hashing, no shuffle until the caller aggregates. Docs
    with fewer than window+k-1 tokens yield no fingerprints.

    The whole window computation is lambda-BOUND over the staged hash
    array and short rows are dropped by a when()/empty-array guard
    INSIDE the bound expression (explode drops empties) rather than a
    DataFrame filter: a ``filter(size(__hs) >= window)`` predicate gets
    pushed below the staged projections, inlining the token-md5
    pipeline into an interpreted filter — and each per-window
    ``slice`` reference would then re-evaluate it PER WINDOW, the
    O(tokens²) md5 blow-up the minhash staging comments document
    (measured here: 56s → 1.5s at sf0.1)."""
    hashed = _staged_shingle_hashes(df, id_col, text_col, k)

    def win_minima(hs: Column) -> Column:
        n = F.size(hs)
        return F.when(
            n >= window,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - (window - 1)),
                    lambda i: F.array_min(F.slice(hs, i, window)),
                )
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return hashed.select(
        F.col(id_col), F.explode(_bind(F.col("__hs"), win_minima)).alias("fp")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs by shared winnowed fingerprints
    (id_a < id_b, n_shared ≥ ``min_shared``) — the MOSS match step.
    Same inverted-index shape as :func:`jaccard_pairs` but over the
    ~1/window-density fingerprint table instead of all shingles: one
    fingerprint-keyed shuffle, ``max_df`` pre-count cap BEFORE any
    collect (``_capped_shingle_buckets``), pair expansion per bucket."""
    fps = winnow_fingerprints(df, id_col, text_col, k, window)
    sh = fps.select(F.col(id_col).alias("id"), F.col("fp").alias("sh")).persist()
    buckets = _capped_shingle_buckets(sh, max_df)
    return (
        buckets.filter(F.size("__ids") > 1)
        .select(F.explode(_pairs_from_ids("__ids")).alias("__p"))
        .groupBy(F.col("__p.id_a").alias("id_a"), F.col("__p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def ngram_dup_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Memorization-risk audit (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): per document, the fraction of
    its k-token windows that also occur in at least one OTHER document —
    the duplicated-substring exposure a model can memorize verbatim.
    Returns (id, n_windows, n_dup, dup_ppm); docs with < k tokens yield
    no row (shingle parity with the miners sharing this staging).

    Staging: one md5 per token, polynomial window fold — with the
    window construction lambda-BOUND over the staged token-hash array
    (the winnow recipe): exploding a raw ``__hs`` column would let
    InferFiltersFromGenerate push a ``size(__hs)>0`` guard below the
    staged projections, inlining the token-md5 transform into the
    window lambda's ``element_at`` references — O(tokens²) md5 per row
    (measured: minutes vs seconds at sf0.1). Scale shape: one
    window-level explode, a document-frequency count over DISTINCT
    (doc, gram) (vocabulary-sized output; a corpus-hot gram arrives at
    the join as ONE pre-aggregated row, so Zipf skew cannot blow up
    the probe side), one gram-keyed join back, one groupBy(doc).
    Everything is linear in token count."""
    tok = df.select(F.col(id_col), tokens(text_col).alias("__t")).filter(
        F.size("__t") >= k
    )
    thash = tok.select(
        F.col(id_col),
        F.expr(f"transform(`__t`, s -> {_shingle_hash_sql('s')})").alias("__th"),
    )
    g = thash.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "element_at(transform(array(`__th`), t -> "
                + _poly_shingle_hashes_sql("t", k)
                + "), 1)"
            )
        ).alias("__g"),
    )
    # pre-aggregate to (doc, gram, within-doc count) FIRST: both the
    # gram doc-frequency and the per-doc rollup then derive from this
    # one aggregate, whose (id, gram) exchange Spark reuses across the
    # two consumers (ReusedExchange) — the expensive token-md5 staging
    # below it runs once, not once per branch
    dc = g.groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__c"))
    # count(CASE WHEN __c > 0 THEN 1 END), not count(1): identical
    # result (__c = count(1) >= 1 always), but it keeps __c in THIS
    # branch's required columns — with a plain count(1), column pruning
    # rewrites this branch's copy of the (id, gram) pre-aggregate into a
    # count-less DISTINCT, the two exchange subtrees stop being
    # canonically equal, and the ReusedExchange silently dies: the
    # expensive token-md5 staging then scans and hashes the corpus TWICE
    # (a bare count(__c) doesn't survive either — the optimizer rewrites
    # count(non-nullable) back to count(1)). Pinned by
    # tests/test_plan_shape.py.
    dfreq = dc.groupBy("__g").agg(
        F.count(F.when(F.col("__c") > 0, F.lit(1))).alias("__df")
    )
    return (
        dc.join(dfreq, "__g")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_windows"),
            F.sum(
                F.when(F.col("__df") >= 2, F.col("__c")).otherwise(F.lit(0))
            ).alias("n_dup"),
        )
        .withColumn(
            "dup_ppm",
            F.expr(
                "CAST(CAST(n_dup AS DECIMAL(38,0)) * 1000000"
                " div CAST(n_windows AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
    )


def decontaminate(
    train_df: DataFrame,
    test_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Remove from TRAIN every document sharing at least one distinct
    k-token shingle with the TEST set — the GPT-3-style n-gram
    decontamination step (the enforcement twin of the
    ``contamination_check`` audit). Returns the clean train rows.

    Shape at scale: the test side reduces to its DISTINCT shingle set
    (tiny vs the corpus); train explodes once, a semi-join on the
    shingle key finds dirty doc ids, and one anti-join drops them —
    hash joins on shingles only, never doc×doc. ``max_df`` ignores
    shingles appearing in more than max_df TEST docs (boilerplate
    guard: ubiquitous phrasing shouldn't nuke the corpus; a capped run
    can only UNDER-remove, never drop a clean doc)."""
    # SQL-composed shingle pipeline (r12 chatter cut): same trees as the
    # Column forms, parsed once per select instead of built op-by-op
    from dabstract_spark.operators.text import _shingles_sql

    ex_sh = f"explode(array_distinct({_shingles_sql('`__t`', k)})) AS sh"
    test_sh = test_df.selectExpr(
        f"`{id_col}` AS tid", _tokens_sql(f"`{text_col}`") + " AS __t"
    ).selectExpr("tid", ex_sh)
    if max_df is None:
        test_set = test_sh.select("sh").distinct()
    else:
        test_set = (
            test_sh.groupBy("sh")
            .agg(F.countDistinct("tid").alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("sh")
        )
    train_sh = train_df.selectExpr(
        f"`{id_col}` AS __tid", _tokens_sql(f"`{text_col}`") + " AS __t"
    ).selectExpr("__tid", ex_sh)
    dirty = train_sh.join(test_set, "sh", "left_semi").select("__tid").distinct()
    return train_df.join(
        dirty, train_df[id_col] == dirty["__tid"], "left_anti"
    )


def source_overlap(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """Pairwise corpus-overlap matrix between groups (sources, dumps,
    snapshots): estimated Jaccard similarity of each pair's UNION shingle
    sets — "which of my crawl sources are near-copies of each other"
    before committing to a mixture, without any doc-vs-doc comparison.

    MinHash is mergeable: the signature of a UNION is the elementwise
    MIN of member signatures, so each group's merged signature is ONE
    aggregate (n_hashes element-min partials, map-side combined; the
    shuffle carries one row per group), then the pairwise estimate is a
    broadcast self-join of the sketch-sized group table. The per-doc
    signature column is the same staged ``__sig`` shape as
    ``minhash_bands`` — multiply-referenced so Catalyst keeps it
    un-inlined, and deliberately NOT filtered or exploded: a DataFrame
    filter/explode on the staged array pushes an inferred
    size/isnotnull predicate below the staging and re-inlines the whole
    md5 pipeline into one interpreted expression, O(tokens²) per row
    (measured 92 s vs 2 s at sf0.01). Short docs (< k tokens) never
    reach the aggregate — ``_staged_shingle_hashes`` drops them with a
    cheap pre-staging token-count filter, which is load-bearing: it is
    what keeps the signature column NULL-free WITHOUT a post-staging
    filter. The ``__mh0.isNotNull()`` guard after the aggregate is
    defense in depth only (it runs on the 1-row-per-group table, where
    a filter costs nothing). Same hash family as the per-doc LSH path,
    so estimates are consistent with it. n_hashes=16 keeps agree/16
    exact in binary.

    Returns (group_a, group_b, n_agree, jaccard_est) for group_a < group_b.
    """
    gsig = group_signatures(df, group_col, id_col, text_col, n_hashes=n_hashes, k=k)
    return overlap_from_signatures(gsig, n_hashes=n_hashes)


def group_signatures(
    df: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """(__grp, __mh0..__mhN): per-group merged MinHash signature — one
    min-aggregate per component over the staged per-doc signatures (see
    ``source_overlap`` for why the staged array is never filtered or
    exploded). Elementwise min is idempotent and commutative, so partial
    signature tables from any split of the corpus (batches, shards,
    streams) merge exactly via :func:`merge_group_signatures`."""
    hashed = _staged_shingle_hashes(df, id_col, text_col, k, extra_cols=(group_col,))
    sig = hashed.select(
        F.col(group_col).alias("__grp"),
        _signature_over_hashes("__hs", n_hashes).alias("__sig"),
    )
    mins = [
        F.expr(f"min(element_at(__sig, {i + 1})) AS __mh{i}") for i in range(n_hashes)
    ]
    return sig.groupBy("__grp").agg(*mins).filter(F.col("__mh0").isNotNull())


def merge_group_signatures(partials: DataFrame, n_hashes: int = 16) -> DataFrame:
    """Merge partial group-signature tables (any union of
    ``group_signatures`` outputs): elementwise min per group."""
    mins = [F.expr(f"min(__mh{i}) AS __mh{i}") for i in range(n_hashes)]
    return partials.groupBy("__grp").agg(*mins)


def overlap_from_signatures(gsig: DataFrame, n_hashes: int = 16) -> DataFrame:
    """Pairwise (group_a, group_b, n_agree, jaccard_est) from a merged
    group-signature table — a broadcast self-join of the sketch."""
    a, b = gsig.alias("a"), F.broadcast(gsig.alias("b"))
    n_agree = F.expr(
        "cast((0 + "
        + " + ".join(
            f"cast((a.__mh{i} = b.__mh{i}) as int)" for i in range(n_hashes)
        )
        + ") as int)"
    )
    return (
        a.join(b, F.col("a.__grp") < F.col("b.__grp"))
        .select(
            F.col("a.__grp").alias("group_a"),
            F.col("b.__grp").alias("group_b"),
            n_agree.alias("n_agree"),
        )
        .withColumn(
            "jaccard_est", F.col("n_agree").cast("double") / F.lit(float(n_hashes))
        )
    )


def source_dup_matrix(
    df: DataFrame,
    text_col: str,
    group_col: str,
    key: Column | None = None,
) -> DataFrame:
    """Cross-group EXACT-duplicate matrix — the document-level
    redundancy read next to the term-level mixture cosine
    (``textstats.group_term_cosine``): which source PAIRS carry the
    same normalized content (syndicated feeds, mirrors, re-crawls),
    i.e. where does inter-source dedup actually pay. One row per
    unordered group pair sharing at least one digest: ``n_shared``
    (distinct normalized-content digests present in both),
    ``overlap_ppm`` = n_shared·10⁶ div min(|digests_a|, |digests_b|)
    (containment of the smaller side — 10⁶ means one side is entirely
    inside the other). Pairs sharing nothing do not emit.

    Scale shape: ONE (group, digest) DISTINCT (the data-sized shuffle,
    digest+group keyed — within-group duplicate mass collapses here),
    an n_groups-row distinct-count table broadcast back, and a
    digest-keyed self-join whose per-digest fan-out is bounded by
    n_groups² (the human-scale mixture-component contract; a digest in
    EVERY group costs C(n_groups, 2), not corpus²). NULL groups are
    excluded (no mixture component); the digest is the exact_dedup
    normalization (md5 of whitespace-collapsed lowercase), so the
    matrix agrees with what exact dedup would actually merge. Pass
    ``key`` to overlap on a different content identity (e.g. a
    chunk-window digest column from an already-exploded ``chunk_text``
    table — the boilerplate-sharing matrix; ``text_col`` is ignored
    then): the containment denominator becomes that key's per-group
    distinct count.
    """
    k = F.md5(normalize_text(text_col)) if key is None else key
    # NULL digests (NULL text / a NULL custom key) can never match in
    # the equi-join, so counting them in the per-group denominator
    # would silently deflate overlap_ppm — drop them up front
    dg = (
        df.filter(F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("__g"), k.alias("__d"))
        .filter(F.col("__d").isNotNull())
        .distinct()
    )
    sizes = dg.groupBy("__g").agg(F.count(F.lit(1)).alias("__nd"))
    a = dg.select(F.col("__g").alias("group_a"), "__d")
    b = dg.select(F.col("__g").alias("group_b"), "__d")
    pairs = (
        a.join(b, "__d")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = F.broadcast(sizes.select(F.col("__g").alias("group_a"), F.col("__nd").alias("__da")))
    sb = F.broadcast(sizes.select(F.col("__g").alias("group_b"), F.col("__nd").alias("__db")))
    return (
        pairs.join(sa, "group_a")
        .join(sb, "group_b")
        .select(
            "group_a",
            "group_b",
            "n_shared",
            F.expr(
                "CAST(CAST(n_shared AS DECIMAL(38,0)) * 1000000"
                " div CAST(greatest(least(__da, __db), 1) AS DECIMAL(38,0))"
                " AS BIGINT)"
            ).alias("overlap_ppm"),
        )
    )


def lsh_parameter_plan(
    spark,
    n_hashes: int = 16,
    s_grid_ppm: tuple[int, ...] | None = None,
) -> DataFrame:
    """MinHash LSH banding planner: for every factorization
    ``bands × rows_per_band == n_hashes`` and every Jaccard similarity
    ``s`` on the grid, the candidate-collision probability of the
    banding scheme, ``p = 1 − (1 − s^r)^b`` — the S-curve a curation
    team reads to pick (bands, rows) for a target near-dup threshold
    before launching the 100 TB pair job (steep curve at the threshold
    = few false candidates below, few misses above).

    Determinism discipline: the powers are computed as an UNROLLED
    multiply-then-``round(·, 6)`` ladder in float64 (r−1 multiplies for
    s^r, b−1 for the outer power). Each intermediate is snapped to 6
    decimals; a binary double can never sit exactly on a 6-decimal
    rounding tie (that would need a factor 5⁻⁷), so both engines make
    identical choices at every step and the final
    ``p_collide_ppm = CAST(DECIMAL(18,6) p · 10⁶ AS BIGINT)`` is
    bit-identical. The whole card is n_factorizations × |grid| literal
    rows — no data is touched; per-factorization curves are unioned,
    each with its own unrolled ladder (exponents are plan-time Python
    ints, so no data-dependent loop exists anywhere)."""
    if n_hashes < 1:
        raise ValueError(f"lsh_parameter_plan: n_hashes {n_hashes} < 1")
    if s_grid_ppm is None:
        s_grid_ppm = tuple(range(50_000, 1_000_000, 50_000))
    factorizations = [
        (b, n_hashes // b) for b in range(1, n_hashes + 1) if n_hashes % b == 0
    ]
    # ONE spark.sql parse of the whole card (r13, guide §1.2): the
    # Column-by-Column ladder form cost ~670 py4j round trips per call
    # (every F.round/multiply/select a command) plus a createDataFrame
    # local-relation conversion — pure driver latency for a plan whose
    # rows are all literals. The SQL text spells out the IDENTICAL
    # expression trees: double literals written with the D suffix (a
    # bare 1.0 would parse as DECIMAL), the same multiply-then-round
    # ladders, the same DECIMAL(18,6)->x1e6->BIGINT snap, unioned in the
    # same factorization order. Outputs are pinned by
    # tests/test_clustering_sampling.py::test_lsh_parameter_plan_fixture.
    values = ", ".join(f"({int(s)})" for s in s_grid_ppm)
    branches = []
    for bands, rows in factorizations:
        t = "s6"
        for _ in range(rows - 1):
            t = f"round(({t}) * s6, 6)"
        q = f"round(1.0D - ({t}), 6)"
        u = q
        for _ in range(bands - 1):
            u = f"round(({u}) * ({q}), 6)"
        p = f"round(1.0D - ({u}), 6)"
        branches.append(
            f"SELECT {int(bands)} AS bands, {int(rows)} AS rows_per_band,"
            f" s_ppm, CAST(CAST({p} AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            " AS p_collide_ppm FROM g"
        )
    sql = (
        f"WITH v (s_ppm) AS (VALUES {values}),\n"
        "g AS (SELECT CAST(s_ppm AS BIGINT) AS s_ppm,"
        " CAST(s_ppm AS DOUBLE) / 1000000.0D AS s6 FROM v)\n"
        + "\nUNION ALL\n".join(branches)
    )
    return spark.sql(sql)
