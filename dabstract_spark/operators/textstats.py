"""Corpus-analytics operators: character-class profiles, n-gram
diversity, cross-group keyness, and OOV-rate evaluation.

These are the descriptive-statistics half of the curation toolkit (the
reports a corpus owner reads next to the quality filters in
operators/text.py and the data card in operators/quality.py). The
reference has no analog — this is training-data-pipeline surface — but
the same discipline applies: exact integer arithmetic (ppm with
truncating decimal ``div``, never float division whose rounding can
flip a boundary) so every report is engine-portable and
DuckDB-oracle-checkable, and scan-fused / vocabulary-sized plans only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F  # noqa: F401

from dabstract_spark.operators.text import shingles_from_tokens, tokens


def _ppm(num_sql: str, den_sql: str) -> Column:
    """Exact truncating parts-per-million over two SQL legs:
    ``num·10⁶ div greatest(den, 1)`` with DECIMAL(38,0) integral
    division (Spark ``div`` == divideToIntegralValue == DuckDB HUGEINT
    ``//`` for the non-negative counts used here)."""
    return F.expr(
        f"CAST(CAST({num_sql} AS DECIMAL(38,0)) * 1000000"
        f" div CAST(greatest({den_sql}, 1) AS DECIMAL(38,0)) AS BIGINT)"
    )


def charclass_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document character-class mix in exact ppm — the cheap script/
    encoding screen a multilingual crawl runs before language-ID (a page
    that is 40% digits or 30% "other" chars is markup/data, not prose;
    CCNet and Gopher both gate on symbol ratios).

    Classes are deliberately ASCII-portable (identical in Java regex and
    RE2/DuckDB): letters ``[A-Za-z]``, digits ``[0-9]``, whitespace
    ``\\s``; ``other`` is the remainder (all non-ASCII scripts land
    there, making it the "foreign script or binary junk" signal on an
    ASCII-expected corpus). ppm values are truncating integer div over
    ``greatest(n_chars, 1)`` so the row is total on empty text.
    Character counts are length(text) - length(class-stripped text) —
    one JVM regexp_replace per class, no per-char explode. Each staged
    count is referenced twice (its own ppm + other_ppm), which keeps
    the staging projection un-inlined (SPARK-36718).

    Scale shape: scan-fused per-row projection, zero shuffle at any
    corpus size.
    """
    text = F.col(text_col)
    n = F.length(text).cast("bigint")
    strip = lambda cc: (  # noqa: E731
        n - F.length(F.regexp_replace(text, cc, "")).cast("bigint")
    )
    staged = df.select(
        F.col(id_col),
        n.alias("__n"),
        strip("[A-Za-z]").alias("__l"),
        strip("[0-9]").alias("__d"),
        strip(r"\s").alias("__s"),
    )
    return staged.select(
        id_col,
        F.col("__n").alias("n_chars"),
        _ppm("__l", "__n").alias("letter_ppm"),
        _ppm("__d", "__n").alias("digit_ppm"),
        _ppm("__s", "__n").alias("space_ppm"),
        _ppm("__n - __l - __d - __s", "__n").alias("other_ppm"),
    )


def ngram_diversity(
    df: DataFrame, group_col: str, text_col: str, n: int = 2
) -> DataFrame:
    """Per-group n-gram type-token ratio in exact ppm — the standard
    corpus-diversity screen (a source whose bigram TTR collapses is
    template/boilerplate text; self-BLEU's cheap relational cousin).

    Returns (group, total_ngrams, distinct_ngrams, ttr_ppm) with
    ``ttr_ppm = distinct·10⁶ div max(total, 1)``.

    Scale shape: tokens stage once per row; n-grams explode and
    pre-aggregate to (group, gram, count) with map-side combine — the
    shuffle is vocabulary-sized, not corpus-sized — then one tiny
    per-group rollup. No countDistinct Expand, no per-group state.
    """
    staged = df.select(F.col(group_col), tokens(text_col).alias("__t"))
    grams = staged.select(
        group_col, F.explode(shingles_from_tokens(F.col("__t"), n)).alias("__g")
    )
    per_gram = grams.groupBy(group_col, "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return per_gram.groupBy(group_col).agg(
        F.sum("__c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        _ppm("count(1)", "sum(__c)").alias("ttr_ppm"),
    )


def keyness_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_k: int = 10,
    min_count: int = 5,
) -> DataFrame:
    """Per-group SALIENT terms — the cross-group keyness report ("what
    words make this source different from the rest of the corpus"), the
    between-corpus counterpart of ``text.collocations``' within-corpus
    PMI. Term weight is an exact-integer relative-risk lift in ppm:

        lift_ppm = c_gw·(T_rest + 1)·10⁶  div  (T_g·(c_w - c_gw + 1))

    (add-one smoothed share of the term in the group vs in the REST of
    the corpus; DECIMAL(38,0) keeps the 10¹⁹-scale numerator exact).
    Keeps each group's ``top_k`` terms with count >= ``min_count``,
    ordered by (lift desc, count desc, term asc) — a total order, so
    the report is deterministic and oracle-checkable.

    Scale shape: explode → (group, term) counts with map-side combine;
    term totals by one vocabulary-keyed shuffle; group totals broadcast
    (n_groups rows — domains, human-scale); the final per-group top-k
    goes through the audited two-level ``select.top_k_per_group`` (no
    group-sized window). The four consumers of the (group, term) count
    share ONE exchange at runtime (3× ReusedExchange, one corpus scan +
    tokenize total) — the explicit ``group IS NOT NULL`` prefilter below
    exists to make every branch's subtree canonically identical, since
    a join-inferred isnotnull pushed into only one branch defeats the
    reuse (measured: 2 scans without it, 1 with). NULL-group rows are
    therefore excluded from all totals — they could never receive a
    keyness verdict anyway. NB: exchange reuse fires over parquet
    scans; a CacheManager-substituted InMemoryRelation input defeats it
    (fixture-bench plans re-scan the cheap in-memory table; production
    fact tables are never cached, so the one-scan shape is the 100 TB
    shape).
    """
    from dabstract_spark.operators.select import top_k_per_group

    toks = df.select(
        F.col(group_col), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col(group_col).isNotNull())
    cgw = toks.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("cnt"))
    cw = cgw.groupBy("term").agg(F.sum("cnt").alias("__cw"))
    tg = cgw.groupBy(group_col).agg(F.sum("cnt").alias("__tg"))
    tot = cgw.agg(F.sum("cnt").alias("__tot"))
    scored = (
        cgw.filter(F.col("cnt") >= min_count)
        .join(cw, "term")
        .join(F.broadcast(tg), group_col)
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
    return top_k_per_group(
        scored,
        [group_col],
        [F.desc("lift_ppm"), F.desc("cnt"), F.asc("term")],
        k=top_k,
    )


def vocab_top_k(df: DataFrame, text_col: str, k: int = 1000) -> DataFrame:
    """The corpus' own top-k word vocabulary as a (term) table — count
    desc, term asc (a total order, so the vocabulary is deterministic
    and engine-portable). One vocabulary-keyed count; the k-row
    selection goes through the audited two-level rank (constant group —
    no global window)."""
    from dabstract_spark.operators.select import top_k_per_group

    counts = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return top_k_per_group(
        counts.withColumn("__one", F.lit(0)),
        ["__one"],
        [F.desc("__c"), F.asc("term")],
        k=k,
    ).select("term")


def oov_scores(
    df: DataFrame,
    key_col: str,
    text_col: str,
    vocab_df: DataFrame,
    vocab_unique: bool = False,
    vocab_size_hint: int | None = None,
) -> DataFrame:
    """Per-``key_col`` OOV aggregate against a fixed (term) vocabulary —
    the ONE scoring recipe shared by the batch screen (``vocab_oov``,
    key = group) and the streaming twin (``oov_score_stream``, key =
    document id), so the two can never drift. Returns (key,
    total_tokens, oov_tokens, oov_ppm); keys whose text has zero
    tokens produce no row (nothing to explode).

    A caller-supplied vocabulary with DUPLICATE terms would fan out the
    membership left join and inflate total_tokens/oov_ppm, so terms are
    deduplicated unless the caller vouches with ``vocab_unique=True``
    (``vocab_top_k`` output is distinct by construction — skipping the
    redundant shuffle). The static broadcast is gated on
    ``vocab_size_hint`` (``core.hinted_broadcast``): hint-less or
    over-threshold vocabularies get a plain join AQE converts at
    runtime — an unbounded caller-supplied vocabulary is never an
    unguarded driver broadcast."""
    from dabstract_spark.core import hinted_broadcast

    toks = df.select(
        F.col(key_col), F.explode(tokens(text_col)).alias("term")
    )
    vocab = vocab_df.select("term")
    if not vocab_unique:
        vocab = vocab.dropDuplicates(["term"])
    vocab = vocab.select("term", F.lit(1).alias("__in_vocab"))
    vocab = hinted_broadcast(vocab_size_hint)(vocab)
    oov = "CAST(__in_vocab IS NULL AS BIGINT)"
    return (
        toks.join(vocab, "term", "left")
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.expr(f"sum({oov})").alias("oov_tokens"),
            _ppm(f"sum({oov})", "count(1)").alias("oov_ppm"),
        )
    )


def vocab_oov(
    df: DataFrame, group_col: str, text_col: str, k: int = 1000
) -> DataFrame:
    """Per-group out-of-vocabulary rate against the corpus' own top-k
    word vocabulary — the tokenizer-coverage screen ("which sources
    will fragment under a vocabulary trained on this corpus"; fertility
    q205's cheap set-membership cousin).

    The vocabulary is the k globally most frequent tokens (count desc,
    term asc — deterministic). Returns (group, total_tokens,
    oov_tokens, oov_ppm).

    Scale shape: one vocabulary-keyed count, the top-k selected through
    the audited two-level ``select.top_k_per_group`` (constant group, so
    no global window either), then ``oov_scores``' broadcast membership
    join of the k-row vocab against the exploded token stream and one
    per-group rollup (2 scans by design — exchanging the probe stream
    on term to save a tokenize would shuffle the corpus).
    """
    return oov_scores(
        df,
        group_col,
        text_col,
        vocab_top_k(df, text_col, k),
        vocab_unique=True,  # top-k output is distinct by construction
        vocab_size_hint=k,
    )


def canary_exposure(
    df: DataFrame, id_col: str, text_col: str, canaries: list[str]
) -> DataFrame:
    """Canary-phrase exposure audit (the Carlini secret-sharer
    methodology's counting half): for EVERY planted canary phrase, how
    many documents contain it verbatim and which document surfaces it
    first — the report a privacy review reads before and after a
    scrub/dedup pass. Canaries with zero hits still get a row (that IS
    the desired outcome; an absent row is indistinguishable from a
    broken audit).

    Scale shape: the canary list is a plan literal exploded per row
    (n_docs × k scan-fused contains tests, k human-scale), aggregated
    with map-side combine to k rows, then LEFT-joined back onto the
    k-row literal canary table — so the zero-hit guarantee holds even
    on an EMPTY corpus (the aggregate alone would return no rows at
    all, an audit indistinguishable from a broken one by this
    operator's own contract). NULL text never hits (coalesced, not
    NULL-propagated into the sums). Duplicate canary phrases raise —
    they would double-count exposure.
    """
    if not canaries:
        raise ValueError("canary_exposure needs at least one canary phrase")
    if len(set(canaries)) != len(canaries):
        raise ValueError(
            "canary_exposure: duplicate canary phrases would double-count"
        )
    can = F.explode(F.array(*[F.lit(c) for c in canaries])).alias("canary")
    hit = F.coalesce(F.col(text_col).contains(F.col("canary")), F.lit(False))
    agg = (
        df.select(F.col(id_col), F.col(text_col), can)
        .groupBy("canary")
        .agg(
            F.sum(hit.cast("bigint")).alias("__n"),
            F.min(F.when(hit, F.col(id_col))).alias("first_doc_id"),
        )
    )
    base = df.sparkSession.createDataFrame(
        [(c,) for c in canaries], "canary string"
    )
    return base.join(agg, "canary", "left").select(
        "canary",
        F.coalesce(F.col("__n"), F.lit(0)).alias("n_docs"),
        "first_doc_id",
    )


def term_dispersion(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_k: int = 20,
    min_count: int = 10,
) -> DataFrame:
    """Most group-CONCENTRATED terms by Gries' deviation-of-proportions
    (DP) in exact ppm — the mixture-planning complement of
    ``keyness_terms``: keyness asks "which terms mark THIS group",
    dispersion asks "which terms does the corpus owe to ONE group"
    (dp_ppm -> 10⁶ means dropping a single source removes the term;
    dp_ppm -> 0 means it is burstless background vocabulary).

        DP(w) = ½ · Σ_g | s_g(w) − v_g |

    where v_g is group g's expected share of all tokens and s_g(w) is
    the share of w's own occurrences that fall in g. Both shares are
    truncating integer ppm (DECIMAL div), so the statistic is engine-
    portable bit-for-bit. Groups where w is absent contribute |0 − v_g|
    = v_g; rather than materializing the vocab × groups cross table,
    the absent-group mass is folded in algebraically:

        Σ_g |s_g − v_g| = Σ_all v_g + Σ_present (|s_g − v_g| − v_g)

    so the plan only ever touches the PRESENT (group, term) rows.
    NULL-group rows are excluded like ``keyness_terms`` (they belong to
    no mixture component). Returns the ``top_k`` most concentrated
    terms with corpus count >= ``min_count``: (term, total_cnt,
    n_groups_present, dp_ppm), ordered dp desc, cnt desc, term asc —
    a total order.

    Scale shape: one (group, term) count with map-side combine
    (vocabulary-sized shuffle), term totals by one vocab-keyed
    aggregate, group shares broadcast (n_groups rows — human-scale by
    the same contract as keyness), final top-k through the audited
    two-level ``select.top_k_per_group`` (constant group). No window
    ever exceeds the vocabulary.
    """
    from dabstract_spark.operators.select import top_k_per_group

    toks = df.select(
        F.col(group_col), F.explode(tokens(text_col)).alias("term")
    ).filter(F.col(group_col).isNotNull())
    cgw = toks.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("cnt"))
    cw = cgw.groupBy("term").agg(F.sum("cnt").alias("__cw"))
    tg = cgw.groupBy(group_col).agg(F.sum("cnt").alias("__tg"))
    tot = cgw.agg(F.sum("cnt").alias("__tot"))
    # v_g in ppm + the corpus-constant Σ_g v_g, all on the n_groups-row
    # table (broadcast); truncation in v_g is replayed identically by
    # the oracle's HUGEINT //
    vg = (
        tg.crossJoin(tot)
        .withColumn("__v", _ppm("__tg", "__tot"))
        .select(group_col, "__v")
    )
    vsum = vg.agg(F.sum("__v").alias("__vsum"))
    scored = (
        cgw.join(cw, "term")
        .join(F.broadcast(vg), group_col)
        .withColumn("__s", _ppm("cnt", "__cw"))
        .withColumn(
            "__contrib",
            F.abs(F.col("__s") - F.col("__v")) - F.col("__v"),
        )
        .groupBy("term")
        .agg(
            F.max("__cw").alias("total_cnt"),
            F.count(F.lit(1)).alias("n_groups_present"),
            F.sum("__contrib").alias("__csum"),
        )
        .crossJoin(F.broadcast(vsum))
        .withColumn(
            "dp_ppm",
            F.expr("CAST((__vsum + __csum) div 2 AS BIGINT)"),
        )
        .filter(F.col("total_cnt") >= min_count)
        .drop("__csum", "__vsum")
    )
    return top_k_per_group(
        scored.withColumn("__one", F.lit(0)),
        ["__one"],
        [F.desc("dp_ppm"), F.desc("total_cnt"), F.asc("term")],
        k=top_k,
    ).select("term", "total_cnt", "n_groups_present", "dp_ppm")


def histogram_drift(
    df_a: DataFrame, df_b: DataFrame, bucket_col: str
) -> DataFrame:
    """Distribution-drift card between two pre-bucketed corpora (the
    monitoring read before a mixture or filter change ships): one row
    per bucket value observed on EITHER side with both counts, both
    shares, the signed share delta, and the scalar total-variation
    distance repeated on every row so the card is self-contained.

        tvd_ppm = (Σ_buckets |share_a − share_b|) div 2

    Shares are truncating integer ppm of each side's own total —
    engine-portable, and an empty side degrades to all-zero shares
    (greatest(total, 1)) instead of a division error. TVD is the exact
    fraction of probability mass that moved: the threshold number a
    drift monitor alarms on (0 identical, 10⁶ disjoint). The caller
    owns the bucketing expression (integer-div score buckets, length
    bins, a lang column...) — anything groupable works, NULL buckets
    included (they count like any other bucket: a lost-label spike IS
    drift).

    Scale shape: one map-side-combined count per side (n_buckets
    output rows each), a null-safe full-outer join of the two tiny
    count tables, one n_buckets-row total — the inputs are scanned
    once each and nothing data-sized ever shuffles.
    """
    ca = df_a.groupBy(F.col(bucket_col).alias(bucket_col)).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    cb = df_b.groupBy(F.col(bucket_col).alias(bucket_col)).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    return drift_from_counts(ca, cb, bucket_col)


def drift_from_counts(
    ca: DataFrame, cb: DataFrame, bucket_col: str
) -> DataFrame:
    """The share/TVD half of ``histogram_drift`` over PRE-COUNTED
    (bucket, n_a) / (bucket, n_b) tables — the ONE drift recipe shared
    by the batch card and the streaming monitor's merged-sink read
    (``streaming.ops.drift_monitor_stream``), so the two can never
    diverge. Counts are additive, which is the whole streaming
    argument: merge-by-sum of per-batch partials equals the one-shot
    count for any micro-batch boundaries."""
    ca = ca.select(F.col(bucket_col).alias("__ba"), F.col("n_a"))
    cb = cb.select(F.col(bucket_col).alias("__bb"), F.col("n_b"))
    joined = ca.join(
        cb, F.col("__ba").eqNullSafe(F.col("__bb")), "full_outer"
    ).select(
        F.coalesce(F.col("__ba"), F.col("__bb")).alias(bucket_col),
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
    )
    tot = joined.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb")
    )
    shared = (
        joined.crossJoin(F.broadcast(tot))
        .withColumn("share_a_ppm", _ppm("n_a", "__ta"))
        .withColumn("share_b_ppm", _ppm("n_b", "__tb"))
        .withColumn(
            "delta_ppm", F.col("share_a_ppm") - F.col("share_b_ppm")
        )
        .drop("__ta", "__tb")
    )
    tvd = shared.agg(
        F.expr("CAST(sum(abs(delta_ppm)) div 2 AS BIGINT)").alias("tvd_ppm")
    )
    return shared.crossJoin(F.broadcast(tvd))


def uniqueness_audit(df: DataFrame, quasi_cols: list[str]) -> DataFrame:
    """k-anonymity-style re-identification audit over a quasi-identifier
    combination (the privacy read next to ``canary_exposure``: a canary
    measures what the corpus LEAKS verbatim, this measures what its
    metadata can SINGLE OUT): every row's (quasi_cols) combo has a
    class size k, and the card reports, per k-class ('1' = unique →
    re-identifiable, '2-4' = small crowd, '5+' = conventional
    k>=5 anonymity), the number of distinct combos, the number of rows,
    and the row share in exact ppm. All three class rows ALWAYS appear
    (zero-filled via a literal class table — an absent class is
    indistinguishable from a broken audit, the canary_exposure
    contract).

    Scale shape: one map-side-combined count over the combo key (the
    only data-sized shuffle, keyed on the quasi-identifier — if a combo
    is hot, that is literally the anonymity being measured), a 3-row
    rollup, one total broadcast. NULL quasi-values group like values
    (two rows that both lack a label still match each other).
    """
    if not quasi_cols:
        raise ValueError("uniqueness_audit needs at least one quasi column")
    combos = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__k"))
    return uniqueness_from_combos(combos)


def uniqueness_from_combos(combos: DataFrame) -> DataFrame:
    """The k-class rollup half of ``uniqueness_audit`` over a
    PRE-COUNTED combo table carrying its class size in ``__k`` — the
    ONE card recipe shared by the batch audit and the streaming
    monitor's merged-sink read (``streaming.ops.uniqueness_stream``),
    the ``drift_from_counts`` discipline: combo counts are additive,
    so merge-by-sum of per-batch partials equals the one-shot count
    for any micro-batch boundaries and the two twins can never
    diverge."""
    k_class = (
        F.when(F.col("__k") == 1, F.lit("1"))
        .when(F.col("__k") <= 4, F.lit("2-4"))
        .otherwise(F.lit("5+"))
    )
    agg = combos.groupBy(k_class.alias("k_class")).agg(
        F.count(F.lit(1)).alias("__combos"),
        F.sum("__k").alias("__rows"),
    )
    base = combos.sparkSession.createDataFrame(
        [("1",), ("2-4",), ("5+",)], "k_class string"
    )
    # total from the combo table, not a second corpus scan (Σk == row
    # count by construction); coalesce(0) keeps the empty-corpus card
    tot = combos.agg(F.coalesce(F.sum("__k"), F.lit(0)).alias("__tot"))
    return (
        base.join(agg, "k_class", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "k_class",
            F.coalesce(F.col("__combos"), F.lit(0)).alias("n_combos"),
            F.coalesce(F.col("__rows"), F.lit(0)).alias("n_rows"),
            _ppm("coalesce(__rows, 0)", "__tot").alias("row_share_ppm"),
        )
    )


def balance_card(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """One-row corpus-balance card over a mixture key (lang, source,
    domain...): the concentration read a mixture owner checks BEFORE
    ``planning.budget_allocation`` re-weights anything — is the corpus
    one giant component with a tail, or genuinely mixed?

    Emits ``n_groups``, ``n_rows``, ``top_share_ppm`` (largest
    component's row share), ``gini_ppm`` (exact-integer Gini of the
    component sizes via the sorted-rank identity
    ``(2·Σ i·x_i − (n+1)·Σx) div (n·Σx)`` — 0 perfectly even, →10⁶ one
    component owns everything), ``entropy_me6`` (Shannon entropy of the
    component shares in integer micro-nats: per-group terms
    ``p·ln(1/p)`` are fixed-pointed to 6 decimals BEFORE the cross-row
    sum, so the sum is exact-integer and engine-portable — the PSI
    discipline; IEEE doubles only ever appear one-libm-call-per-row),
    and ``entropy_norm_ppm`` (entropy as ppm of the even-mixture
    maximum ``ln(n)``, clamped at 10⁶ — the evenness number). The card always emits
    exactly one row, zero-filled on an empty corpus (the datasheet
    contract).

    Scale shape: ONE map-side-combined count over the mixture key is
    the only data-sized work; everything after (rank window included)
    runs on the n_groups-row count table — bounded by the same
    human-scale mixture-component contract as ``keyness_terms`` /
    ``budget_allocation``. NULL group values count like values (a
    lost-label component is still a component).
    """
    if not group_cols:
        raise ValueError("balance_card needs at least one group column")
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__n"))
    return balance_from_counts(counts, group_cols)


def balance_from_counts(counts: DataFrame, group_cols: list[str]) -> DataFrame:
    """The Gini/entropy half of ``balance_card`` over a PRE-COUNTED
    (group..., __n) table — the ONE concentration recipe shared by the
    batch card and the streaming monitor's merged-sink read
    (``streaming.ops.balance_stream``), the ``drift_from_counts``
    discipline: mixture counts are additive, so merge-by-sum of
    per-batch partials equals the one-shot count for any micro-batch
    boundaries and the two twins can never diverge."""
    from pyspark.sql.window import Window

    tot = counts.agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("__t"))
    # ascending-size rank for the Gini identity; ties broken by the
    # group key only for run-determinism (equal x_i swap ranks without
    # changing Σ i·x_i). n_groups-row window by contract.
    # partitionBy(lit(0)): the bounded-tiny-table window annotation
    # (n_groups rows by the mixture-component contract)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.asc("__n"), *[F.asc(c) for c in group_cols]
    )
    dec = "DECIMAL(38,0)"
    ranked = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("__i", F.row_number().over(w))
        .withColumn(
            "__s1",
            F.expr(f"CAST(__i AS {dec}) * CAST(__n AS {dec})"),
        )
        .withColumn(
            "__e",
            F.expr(
                "CAST(CAST(round((CAST(__n AS DOUBLE) / __t)"
                " * ln(CAST(__t AS DOUBLE) / __n), 6)"
                " AS DECIMAL(28,6)) * 1000000 AS BIGINT)"
            ),
        )
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.coalesce(F.max("__t"), F.lit(0)).cast("bigint").alias("n_rows"),
        _ppm("coalesce(max(__n), 0)", "coalesce(max(__t), 0)").alias(
            "top_share_ppm"
        ),
        F.expr(
            f"CAST((2 * coalesce(sum(__s1), 0)"
            f" - CAST(count(1) + 1 AS {dec}) * coalesce(max(__t), 0))"
            f" * 1000000 div greatest(CAST(count(1) AS {dec})"
            f" * coalesce(max(__t), 0), 1) AS BIGINT)"
        ).alias("gini_ppm"),
        F.coalesce(F.sum("__e"), F.lit(0)).cast("bigint").alias("entropy_me6"),
        # least(·, 10⁶): entropy and its ln(n) ceiling are BOTH sums of
        # per-term 6-decimal fixed points, so a perfectly even mixture
        # can read a hair over the ceiling (every term rounded up) —
        # clamp so evenness tops out at exactly 10⁶
        F.expr(
            "CAST(least(coalesce(sum(__e), 0) * 1000000"
            " div greatest(CAST(CAST(round(ln(CAST(greatest(count(1), 1)"
            " AS DOUBLE)), 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT), 1),"
            " 1000000) AS BIGINT)"
        ).alias("entropy_norm_ppm"),
    )


def group_term_cosine(
    df: DataFrame, group_col: str, text_col: str, min_count: int = 1
) -> DataFrame:
    """Pairwise cosine similarity between the per-group TERM-FREQUENCY
    vectors — the mixture-redundancy matrix (which components say the
    same things?) read next to ``keyness_terms`` (what marks ONE
    group) and ``term_dispersion`` (what the corpus owes to one group).
    One row per unordered group pair (group_a < group_b):
    ``n_shared_terms``, ``cosine`` = Σ c_a·c_b / (‖c_a‖·‖c_b‖) rounded
    to 6 decimals. Dot products and squared norms are exact integers
    (DECIMAL(38,0)); IEEE ``sqrt`` is correctly rounded by both
    engines, so the rounded cosine is bit-portable. Pairs sharing no
    term do not emit (cosine exactly 0 — the join finds nothing).

    Scale shape: one (group, term) count with map-side combine
    (vocabulary-sized shuffle), n_groups-row norm table broadcast, and
    a term-keyed self-join whose per-term fan-out is bounded by
    n_groups² — the human-scale mixture-component contract again, NOT
    a doc-pair blowup. ``min_count`` prunes hapax terms from the join
    (they contribute ~nothing to cosine mass but dominate vocabulary
    size). NULL-group rows are excluded (no mixture component).
    """
    toks = df.select(
        F.col(group_col).alias("__g"), F.explode(tokens(text_col)).alias("__term")
    ).filter(F.col("__g").isNotNull())
    cgw = (
        toks.groupBy("__g", "__term")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= int(min_count))
    )
    dec = "DECIMAL(38,0)"
    norms = cgw.groupBy("__g").agg(
        F.expr(f"sum(CAST(__c AS {dec}) * CAST(__c AS {dec}))").alias("__n2")
    )
    a = cgw.select(
        F.col("__g").alias("group_a"), F.col("__term"), F.col("__c").alias("__ca")
    )
    b = cgw.select(
        F.col("__g").alias("group_b"), F.col("__term"), F.col("__c").alias("__cb")
    )
    dots = (
        a.join(b, "__term")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_terms"),
            F.expr(f"sum(CAST(__ca AS {dec}) * CAST(__cb AS {dec}))").alias(
                "__dot"
            ),
        )
    )
    na = F.broadcast(norms.select(F.col("__g").alias("group_a"), F.col("__n2").alias("__na")))
    nb = F.broadcast(norms.select(F.col("__g").alias("group_b"), F.col("__n2").alias("__nb")))
    return (
        dots.join(na, "group_a")
        .join(nb, "group_b")
        .select(
            "group_a",
            "group_b",
            "n_shared_terms",
            F.round(
                F.expr(
                    "CAST(__dot AS DOUBLE)"
                    " / (sqrt(CAST(__na AS DOUBLE)) * sqrt(CAST(__nb AS DOUBLE)))"
                ),
                6,
            ).alias("cosine"),
        )
    )


def agreement_card(df: DataFrame, gold_col: str, pred_col: str) -> DataFrame:
    """Cohen's kappa between two categorical label columns — the
    label-QC scalar behind the lang-ID confusion matrix (q278 shows
    WHERE the classifier errs; this says whether it beats chance at
    all, the number an annotation-pipeline gate thresholds on). One
    card row: ``n_rows``, ``n_agree``, ``po_ppm`` (observed agreement),
    ``pe_ppm`` (chance agreement from the marginals), and ``kappa`` =
    ``(N·Σdiag − Σ_l row_l·col_l) / (N² − Σ_l row_l·col_l)`` — exact
    integer numerator/denominator (DECIMAL(38,0)), ONE double division,
    round 6: engine-portable. ``kappa`` is NULL when the denominator is
    0 (both columns constant and equal — chance agreement is already
    total, kappa undefined). NULL labels compare null-safely (two
    missing labels AGREE — a lost-label row is a label).

    Scale shape: one map-side-combined (gold, pred) count is the only
    data-sized shuffle; marginals, the diagonal, and the card all fold
    from the confusion-matrix-sized count table (#classes² rows).
    """
    cm = df.groupBy(
        F.col(gold_col).alias("__gold"), F.col(pred_col).alias("__pred")
    ).agg(F.count(F.lit(1)).alias("__n"))
    return agreement_from_counts(cm)


def agreement_from_counts(cm: DataFrame) -> DataFrame:
    """The po/pe/kappa half of ``agreement_card`` over a PRE-COUNTED
    (__gold, __pred, __n) confusion table — the ONE agreement recipe
    shared by the batch card and the streaming monitor's merged-sink
    read (``streaming.ops.agreement_stream``), the drift_from_counts
    discipline: confusion counts are additive, so merge-by-sum of
    per-batch partials equals the one-shot count for any micro-batch
    boundaries and the two twins can never diverge."""
    dec = "DECIMAL(38,0)"
    tot = cm.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("__t"),
        F.coalesce(
            F.sum(F.when(F.col("__gold").eqNullSafe(F.col("__pred")), F.col("__n")).otherwise(F.lit(0))),
            F.lit(0),
        ).alias("__d"),
    )
    rowm = cm.groupBy(F.col("__gold").alias("__l")).agg(F.sum("__n").alias("__rn"))
    colm = cm.groupBy(F.col("__pred").alias("__l")).agg(F.sum("__n").alias("__cn"))
    pe = (
        rowm.join(colm, rowm["__l"].eqNullSafe(colm["__l"]))
        .agg(
            F.coalesce(
                F.expr(f"sum(CAST(__rn AS {dec}) * CAST(__cn AS {dec}))"),
                F.lit(0).cast(dec),
            ).alias("__pe")
        )
    )
    return (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.col("__t").cast("bigint").alias("n_rows"),
            F.col("__d").cast("bigint").alias("n_agree"),
            _ppm("__d", "__t").alias("po_ppm"),
            F.expr(
                f"CAST(__pe * 1000000 div greatest(CAST(__t AS {dec})"
                f" * CAST(__t AS {dec}), 1) AS BIGINT)"
            ).alias("pe_ppm"),
            F.expr(
                f"CASE WHEN CAST(__t AS {dec}) * CAST(__t AS {dec}) - __pe = 0"
                f" THEN NULL ELSE round(CAST(CAST(__t AS {dec}) * CAST(__d AS {dec})"
                f" - __pe AS DOUBLE) / CAST(CAST(__t AS {dec}) * CAST(__t AS {dec})"
                f" - __pe AS DOUBLE), 6) END"
            ).alias("kappa"),
        )
    )


def zipf_card(df: DataFrame, text_col: str, top_n: int = 100) -> DataFrame:
    """Rank-frequency power-law fit over the ``top_n`` vocabulary —
    OLS of ln(count) on ln(rank), the corpus-health line (natural text
    sits near slope −1; templated/boilerplate corpora flatten, and a
    drifting slope between snapshots is a vocabulary-mix alarm). One
    card row: ``n_terms``, ``slope``, ``intercept`` (ln-count at rank
    1 under the fit), ``r2``; NULLs when fewer than 2 terms exist.

    Portability: ln(rank)/ln(count) are fixed-pointed to integer
    micro-units per row (one libm call each, round 6 — the PSI
    discipline), so every cross-row OLS sum is an exact
    DECIMAL(38,0) integer in both engines; slope/intercept/r² are then
    single double divisions of exact integers, round 6. The naive
    all-double OLS would sum doubles in partition order — a
    nondeterministic last-ulp that an exact-hash gate cannot accept.

    Scale shape: vocabulary-sized term count (map-side combine), then
    a TakeOrdered top-``top_n`` heap (no full sort shuffle) and a
    rank window on the ``top_n``-row table — everything after the
    count is constant-bounded by ``top_n``.
    """
    from pyspark.sql.window import Window

    vc = (
        df.select(F.explode(tokens(text_col)).alias("__term"))
        .groupBy("__term")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    top = vc.orderBy(F.desc("__c"), F.asc("__term")).limit(int(top_n))
    # partitionBy(lit(0)): bounded-tiny-table window (top_n rows)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("__c"), F.asc("__term"))
    fx = (
        "CAST(CAST(round(ln(CAST({v} AS DOUBLE)), 6) AS DECIMAL(28,6))"
        " * 1000000 AS BIGINT)"
    )
    dec = "DECIMAL(38,0)"
    pts = (
        top.withColumn("__r", F.row_number().over(w))
        .withColumn("__x", F.expr(fx.format(v="__r")))
        .withColumn("__y", F.expr(fx.format(v="__c")))
    )
    sums = pts.agg(
        F.count(F.lit(1)).alias("__k"),
        F.expr(f"coalesce(sum(CAST(__x AS {dec})), 0)").alias("__sx"),
        F.expr(f"coalesce(sum(CAST(__y AS {dec})), 0)").alias("__sy"),
        F.expr(
            f"coalesce(sum(CAST(__x AS {dec}) * CAST(__y AS {dec})), 0)"
        ).alias("__sxy"),
        F.expr(
            f"coalesce(sum(CAST(__x AS {dec}) * CAST(__x AS {dec})), 0)"
        ).alias("__sxx"),
        F.expr(
            f"coalesce(sum(CAST(__y AS {dec}) * CAST(__y AS {dec})), 0)"
        ).alias("__syy"),
    )
    k = f"CAST(__k AS {dec})"
    num = f"({k} * __sxy - __sx * __sy)"
    den = f"({k} * __sxx - __sx * __sx)"
    vary = f"({k} * __syy - __sy * __sy)"
    return sums.select(
        F.col("__k").cast("bigint").alias("n_terms"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN NULL ELSE"
            f" round(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE), 6) END"
        ).alias("slope"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN NULL ELSE"
            f" round(CAST(__sy * __sxx - __sx * __sxy AS DOUBLE)"
            f" / CAST({den} AS DOUBLE) / 1e6, 6) END"
        ).alias("intercept"),
        F.expr(
            f"CASE WHEN {den} = 0 OR {vary} = 0 THEN NULL ELSE"
            f" round((CAST({num} AS DOUBLE) * CAST({num} AS DOUBLE))"
            f" / (CAST({den} AS DOUBLE) * CAST({vary} AS DOUBLE)), 6) END"
        ).alias("r2"),
    )


def mutual_info_card(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Mutual information between two categorical columns — the
    association-strength scalar next to ``agreement_card`` (kappa asks
    "do these two LABELINGS of the same space agree"; MI asks "how much
    does knowing one column tell you about the other", and works across
    DIFFERENT label spaces — lang vs source, domain vs quality tier:
    the redundancy read before adding a metadata column to a mixture
    key). One card row: ``n_rows``, ``n_cells`` (non-zero contingency
    cells), ``mi_me6`` (MI in integer micro-nats), ``h_a_me6`` /
    ``h_b_me6`` (marginal entropies), and ``nmi_ppm`` (MI as ppm of
    ``min(H_a, H_b)``, clamped to [0, 10⁶]).

    Portability is the balance_card discipline: each cell's
    ``(n_xy/N)·ln(N·n_xy / (n_x·n_y))`` and each marginal's
    ``(n_x/N)·ln(N/n_x)`` is fixed-pointed to 6 decimals BEFORE the
    cross-row sum (one libm call per row of a contingency-sized table),
    so every sum is an exact integer in both engines. Cell terms are
    legitimately negative (observed < expected); the SUM is >= 0
    mathematically, and the ppm ratio clamps the residual fixed-point
    jitter. NULL labels count like values (the kappa contract).

    Scale shape: ONE map-side-combined (a, b) count is the only
    data-sized shuffle; marginals and all three sums fold from the
    #classes_a×#classes_b-row cell table.
    """
    cm = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__n"))
    return mutual_info_from_counts(cm)


def mutual_info_from_counts(cm: DataFrame) -> DataFrame:
    """The MI/entropy half of ``mutual_info_card`` over a PRE-COUNTED
    (__a, __b, __n) contingency table — shared with ``cluster_purity``
    so a compute-heavy assignment table is contingency-collapsed ONCE
    and both the purity pick and the MI sums fold from the same cell
    table."""
    tot = cm.agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("__t"))
    rm = cm.groupBy("__a").agg(F.sum("__n").alias("__na"))
    cmb = cm.groupBy("__b").agg(F.sum("__n").alias("__nb"))
    me6 = (
        "CAST(CAST(round({expr}, 6) AS DECIMAL(28,6)) * 1000000 AS BIGINT)"
    )
    cells = (
        cm.join(rm, cm["__a"].eqNullSafe(rm["__a"])).drop(rm["__a"])
        .join(cmb, cm["__b"].eqNullSafe(cmb["__b"])).drop(cmb["__b"])
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "__mi",
            F.expr(
                me6.format(
                    expr="(CAST(__n AS DOUBLE) / __t)"
                    " * ln((CAST(__t AS DOUBLE) * __n)"
                    " / (CAST(__na AS DOUBLE) * __nb))"
                )
            ),
        )
    )
    ent = "(CAST({m} AS DOUBLE) / __t) * ln(CAST(__t AS DOUBLE) / {m})"
    ha = (
        rm.crossJoin(F.broadcast(tot))
        .agg(
            F.coalesce(
                F.sum(F.expr(me6.format(expr=ent.format(m="__na")))), F.lit(0)
            ).alias("__ha")
        )
    )
    hb = (
        cmb.crossJoin(F.broadcast(tot))
        .agg(
            F.coalesce(
                F.sum(F.expr(me6.format(expr=ent.format(m="__nb")))), F.lit(0)
            ).alias("__hb")
        )
    )
    mi = cells.agg(
        F.coalesce(F.sum("__mi"), F.lit(0)).alias("__mi"),
        F.count(F.lit(1)).alias("__cells"),
    )
    return (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("__t").cast("bigint").alias("n_rows"),
            F.col("__cells").cast("bigint").alias("n_cells"),
            F.col("__mi").cast("bigint").alias("mi_me6"),
            F.col("__ha").cast("bigint").alias("h_a_me6"),
            F.col("__hb").cast("bigint").alias("h_b_me6"),
            F.expr(
                "CAST(least(greatest(__mi, 0) * 1000000"
                " div greatest(least(__ha, __hb), 1), 1000000) AS BIGINT)"
            ).alias("nmi_ppm"),
        )
    )


def term_burstiness(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 20,
    min_count: int = 10,
) -> DataFrame:
    """Most BURSTY terms by the Church-Gale variance-to-mean ratio of
    per-document counts over ALL documents (zeros included) — the
    within-corpus clumping read next to ``term_dispersion``'s
    across-group concentration: a term at VMR 10⁶ arrives Poisson
    (background vocabulary); far above it the term clumps into few
    documents (topical/boilerplate — and a bursty high-frequency term
    is a dedup/boilerplate lead, not a stopword).

        vmr = var/mean = (N·Σx² − c_w²) / (N·c_w)

    over per-doc counts x with N = corpus document count and c_w = Σx —
    the absent-document zeros fold in algebraically (Σx² over PRESENT
    docs only; never a doc × vocab cross table), and the statistic is
    one exact-integer ppm (DECIMAL(38,0)). Returns the ``top_k`` most
    bursty terms with c_w >= ``min_count``: (term, total_cnt, n_docs,
    vmr_ppm), ordered vmr desc, cnt desc, term asc — a total order.

    Scale shape: (doc, term) counts with map-side combine, a
    vocabulary-keyed rollup to (term, Σx, Σx², n_docs), one 1-row
    document-count broadcast, and the audited two-level
    ``select.top_k_per_group`` (constant group) — no window ever
    exceeds the vocabulary.
    """
    from dabstract_spark.operators.select import top_k_per_group

    dec = "DECIMAL(38,0)"
    toks = df.select(
        F.col(id_col).alias("__id"), F.explode(tokens(text_col)).alias("term")
    )
    per_doc = toks.groupBy("__id", "term").agg(F.count(F.lit(1)).alias("__x"))
    nn = df.agg(F.count(F.lit(1)).alias("__nd"))
    scored = (
        per_doc.groupBy("term")
        .agg(
            F.expr(f"CAST(sum(__x) AS {dec})").alias("__cw"),
            F.expr(f"CAST(sum(CAST(__x AS {dec}) * __x) AS {dec})").alias(
                "__sx2"
            ),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("__cw") >= int(min_count))
        .crossJoin(F.broadcast(nn))
        .select(
            "term",
            F.col("__cw").cast("bigint").alias("total_cnt"),
            "n_docs",
            F.expr(
                f"CAST((CAST(__nd AS {dec}) * __sx2 - __cw * __cw) * 1000000"
                f" div greatest(CAST(__nd AS {dec}) * __cw, 1) AS BIGINT)"
            ).alias("vmr_ppm"),
        )
    )
    return top_k_per_group(
        scored.withColumn("__one", F.lit(0)),
        ["__one"],
        [F.desc("vmr_ppm"), F.desc("total_cnt"), F.asc("term")],
        k=top_k,
    ).select("term", "total_cnt", "n_docs", "vmr_ppm")


def cluster_purity(df: DataFrame, cluster_col: str, label_col: str) -> DataFrame:
    """Clustering-quality card against gold labels — purity plus the
    ``mutual_info_card`` NMI in one row: the eval a pipeline reads
    after an IVF/k-means assignment to decide whether the clusters are
    usable as a stratification key. ``purity_ppm`` = Σ_cluster
    (majority-label count) ·10⁶ div N — exact integers end-to-end;
    ``nmi_ppm`` is the fixed-point mutual information of the same
    contingency (the mutual_info_card recipe VERBATIM via
    composition). NULL clusters/labels count like values.

    Scale shape: ONE (cluster, label) map-side-combined count; the
    majority pick and both entropies fold from the contingency-sized
    cell table (per-cluster max over ≤ n_labels rows each).
    """
    cm = df.groupBy(
        F.col(cluster_col).alias("__c"), F.col(label_col).alias("__l")
    ).agg(F.count(F.lit(1)).alias("__n"))
    per_c = cm.groupBy("__c").agg(F.max("__n").alias("__maj"))
    pur = per_c.agg(
        F.coalesce(F.sum("__maj"), F.lit(0)).alias("__p"),
        F.count(F.lit(1)).alias("__k"),
    )
    labs = cm.groupBy("__l").agg(F.lit(1).alias("__one")).agg(
        F.count(F.lit(1)).alias("__nl")
    )
    mi = mutual_info_from_counts(
        cm.select(F.col("__c").alias("__a"), F.col("__l").alias("__b"), "__n")
    ).select(F.col("n_rows"), F.col("nmi_ppm"))
    return (
        mi.crossJoin(F.broadcast(pur))
        .crossJoin(F.broadcast(labs))
        .select(
            "n_rows",
            F.col("__k").cast("bigint").alias("n_clusters"),
            F.col("__nl").cast("bigint").alias("n_labels"),
            _ppm("__p", "n_rows").alias("purity_ppm"),
            "nmi_ppm",
        )
    )
