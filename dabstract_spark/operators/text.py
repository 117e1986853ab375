"""Text-analysis operators for large-scale training-data pipelines
(SURVEY §7-M6 extensions; no reference analog — the reference's scalar
function library is audio DSP, processors.py).

Everything here is built-in-expression only (split / HOFs / regex / md5):
JVM-side, whole-stage codegen, zero Python in the hot path — the property
that matters at 100 TB where these run over every document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from dabstract_spark.core import bind_once

# Marker stopword sets for the n-gram language heuristic. On real corpora
# these are per-language function words; the fixture documents are
# synthetic, so the sets are drawn from the fixture vocabulary to make the
# heuristic exercise real paths deterministically.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast", "slow"),
    "qy": ("query", "table", "scan", "join"),
    "dt": ("data", "row", "batch", "stream"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column | str, pattern: str = r"\W+") -> Column:
    """Lower-cased word tokens with empties removed (portable: Spark
    split and DuckDB string_split_regex agree after the empty filter)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), pattern), lambda t: t != "")


# --------------------------------------------------------------------- #
# SQL-snippet composers (optimization r12): the scoring expressions below
# are built from dozens of Column ops, and every Column op is at least one
# py4j round trip — a pure driver-latency tax that the hot pipelines
# (q221/q228 and the whole text-stats family) pay per query build. The
# _sql composers spell out the IDENTICAL expression trees as strings and
# parse once with F.expr; results (and oracle hashes) are unchanged.
# Inputs are SQL fragments (a backtick-quoted column name or a nested
# snippet), mirroring the dedup.py hash-family composers.
# --------------------------------------------------------------------- #


def _tokens_sql(col_sql: str, pattern: str = r"\W+") -> str:
    """SQL form of ``tokens`` (split + empty filter; same tree)."""
    pat = pattern.replace("\\", "\\\\")
    return f"filter(split(lower({col_sql}), '{pat}'), t -> t != '')"


def _in_sql(var: str, words) -> str:
    """SQL membership test matching Column.isin over string literals."""
    vals = ", ".join("'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'" for w in words)
    return f"{var} IN ({vals})"


def _shingles_sql(t_sql: str, k: int) -> str:
    """SQL form of ``shingles_from_tokens`` over a staged token array."""
    return (
        f"(CASE WHEN size({t_sql}) >= {k} THEN "
        f"transform(sequence(1, size({t_sql}) - {k - 1}), "
        f"i -> array_join(slice({t_sql}, i, {k}), ' ')) "
        f"ELSE cast(array() as array<string>) END)"
    )


def quality_score_ppm_sql(col_sql: str, token_sql: str | None = None) -> str:
    """SQL form of ``quality_score_ppm`` (same integer-ppm tree)."""
    t = token_sql if token_sql is not None else _tokens_sql(col_sql)
    n_tok = f"cast(greatest(size({t}), 1) as bigint)"
    n_chars = f"cast(greatest(length({col_sql}), 1) as bigint)"
    hits = f"cast(size(filter({t}, x -> {_in_sql('x', STOPWORDS)})) as bigint)"
    n_punct = (
        f"cast(length(regexp_replace({col_sql}, '[^.!?,;:]', '')) as bigint)"
    )
    m = "cast(1000000 as bigint)"
    len_ppm = f"least(cast(length({col_sql}) as bigint) * 2500, {m})"
    sw_capped = f"least(floor({hits} * 1000000 / {n_tok}) * 5, {m})"
    punct_capped = f"least(floor({n_punct} * 1000000 / {n_chars}) * 10, {m})"
    return (
        f"cast(floor((5 * {len_ppm} + 3 * {sw_capped} + "
        f"2 * ({m} - {punct_capped})) / 10) as bigint)"
    )


def lang_id_sql(
    col_sql: str,
    markers: dict[str, tuple[str, ...]] | None = None,
    token_sql: str | None = None,
) -> str:
    """SQL form of ``lang_id`` (same ascending strict-> fold)."""
    markers = markers or LANG_MARKERS
    t = token_sql if token_sql is not None else _tokens_sql(col_sql)
    best, best_score = "'und'", "0"
    for lang in sorted(markers):
        s = f"size(filter({t}, x -> {_in_sql('x', markers[lang])}))"
        new_best = f"(CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best} END)"
        best_score = f"(CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END)"
        best = new_best
    return best


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


#: GPT-2-shaped pre-tokenizer, reduced to engine-portable ASCII classes:
#: letter runs (with common English contraction suffixes split off the
#: way BPE vocabularies expect), digit runs, and single non-space
#: symbols. Identical semantics in Java regex and RE2/DuckDB.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_tokens(col: Column | str, pattern: str = BPE_PATTERN) -> Column:
    """BPE-style pre-tokenization (the unit LLM tokenizers count):
    extract-all on a GPT-2-shaped pattern instead of splitting on
    whitespace, so punctuation and contractions count as their own
    tokens. Pure JVM regexp — no tokenizer library in the hot path."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(pattern), 0)


def bpe_token_count(col: Column | str) -> Column:
    """Approximate LLM token count: the number of BPE pre-tokens. Real
    BPE merges split rare words further, so this undercounts slightly;
    it is the standard cheap budget estimator for corpus sizing."""
    return F.size(bpe_tokens(col)).cast("bigint")


def shingles_from_tokens(t: Column, k: int = 3) -> Column:
    """k-gram shingles over an ALREADY-STAGED token array column. Callers
    that stage tokens as a real column avoid re-tokenizing per reference
    (this expression references its input 3×; a raw tokens() expression
    would run the regex split 3× per row)."""
    n = F.size(t)
    return F.when(n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, r"[^.!?,;:]", ""))
    return F.round(n_punct / F.greatest(F.length(c), F.lit(1)), 6)


def stopword_ratio(col: Column | str, stopwords=STOPWORDS) -> Column:
    t = tokens(col)
    hits = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return F.round(hits / F.greatest(F.size(t), F.lit(1)), 6)


def mean_token_len(col: Column | str) -> Column:
    t = tokens(col)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.round(total / F.greatest(F.size(t), F.lit(1)), 6)


def quality_score(col: str, token_col: str | None = None) -> Column:
    """Composite document-quality heuristic in [0,1]: favors mid-length
    docs with low punctuation density and some stopword structure
    (the C4/Gopher-rule shape, reduced to fixture-safe signals).

    Computed entirely in integer parts-per-million — float round() at
    half-boundaries differs between engines, integer division doesn't.
    quality = (5*len + 3*min(5*sw,1) + 2*(1-min(10*punct,1))) / 10.
    ``token_col``: pass the name of an already-staged token array column
    to avoid re-tokenizing when several stats share one select.

    Defined AS ``quality_score_ppm / 1e6`` — one expression tree, so the
    float and integer forms can never silently drift apart."""
    ppm = quality_score_ppm_sql(f"`{col}`", _stage(token_col))
    return F.expr(f"({ppm} / 1.0E6)").alias("quality")


def _stage(token_col: str | None) -> str | None:
    """Staged token-array column NAME → backticked SQL ref (or None)."""
    return f"`{token_col}`" if token_col is not None else None


def quality_score_ppm(col: str, token_col: str | None = None) -> Column:
    """quality_score BEFORE the final /1e6 — the exact bigint ppm value,
    for aggregations that must stay in integer arithmetic (a mean over
    the float form would round-trip through an inexact double). This is
    the single source of truth; quality_score IS this / 1e6.
    ``token_col``: the NAME of an already-staged token array column."""
    return F.expr(quality_score_ppm_sql(f"`{col}`", _stage(token_col)))


def lang_id(
    col: str,
    markers: dict[str, tuple[str, ...]] | None = None,
    token_col: str | None = None,
) -> Column:
    """N-gram/stopword language heuristic: argmax of marker-hit counts,
    'und' when no marker hits. Deterministic tie-break by language code
    (ascending fold with strict >: alphabetically-first language wins
    ties, 'und' when every score is 0). ``token_col``: the NAME of an
    already-staged token array column (see quality_score)."""
    return F.expr(lang_id_sql(f"`{col}`", markers, _stage(token_col)))


def fingerprint(col: Column | str) -> Column:
    """60-bit content fingerprint of the whitespace-normalized lower-cased
    text (md5 prefix → bigint; portable to any engine with md5)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint")


def repetition_score_df(
    df: DataFrame, id_col: str, text_col: str, k: int = 2
) -> DataFrame:
    """(id, rep_score): fraction of within-document duplicate k-grams —
    the Gopher-style repetition filter signal (high = the doc repeats
    itself). NULL when the doc has no k-gram. Staged token/shingle
    columns; pure array expressions, one pass, no shuffle."""
    staged = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    sh = staged.select(
        F.col(id_col), shingles_from_tokens(F.col("__t"), k).alias("__sh")
    )
    n = F.size("__sh")
    return sh.select(
        F.col(id_col),
        F.when(
            n > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct("__sh")) / n, 6) + F.lit(0.0),
        ).alias("rep_score"),
    )


def tfdf_keywords(
    df: DataFrame, id_col: str, text_col: str, top_k: int = 3
) -> DataFrame:
    """(id, token, score_ppm, rank): top-k keywords per document by the
    tf/df ratio — term frequency in the doc over corpus document
    frequency, in integer parts-per-million so the ranking is identical
    in any engine (float idf logs differ across libms at the last bit).

    Scale shape: one explode, two aggregations, one equi-join on token.
    The document-frequency table is vocabulary-sized; Zipf skew on hot
    tokens is bounded because df arrives pre-aggregated (one row per
    token), never as an exploded join side."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = (
        tok.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    from pyspark.sql import Window

    scored = tf.join(docfreq, "token").withColumn(
        "score_ppm", F.floor(F.col("tf") * 1000000 / F.col("df")).cast("bigint")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score_ppm"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_k)
        .select(id_col, "token", "score_ppm", "rank")
    )


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking (RAG / context-window
    ingestion): each document yields chunks of ``window`` tokens every
    ``stride`` tokens. Trailing fragments shorter than ``window`` are
    dropped UNLESS they are the document's only chunk (short docs still
    produce one chunk). Returns (id, chunk_id, n_tokens, chunk_md5) —
    the digest instead of the text so chunk identity is checkable
    without shipping every chunk to the driver.

    One explode per document (sequence of chunk starts — pure HOF, no
    shuffle); chunk volume ~ tokens/stride. The reference's analog is
    Framing over sample arrays (processors.py Framing); this is the
    token/text form at corpus scale.
    """
    staged = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    n = F.size("__t")
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    exploded = staged.select(
        id_col, "__t", n.alias("__n"), F.explode(starts).alias("__s")
    )
    chunk = F.slice(F.col("__t"), F.col("__s"), window)
    return (
        exploded.withColumn("__c", chunk)
        .filter((F.size("__c") == window) | (F.col("__s") == 1))
        .select(
            id_col,
            ((F.col("__s") - 1) / stride).cast("int").alias("chunk_id"),
            F.size("__c").alias("n_tokens"),
            F.md5(F.array_join(F.col("__c"), " ")).alias("chunk_md5"),
        )
    )


def tfdf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_df: int = 50,
    threshold: float = 0.5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Document-pair cosine similarity over sparse df-weighted term
    vectors (w = tf * scale div df — the integer-exact tf/df analog of
    tf-idf; float idf logs differ across libms at the last bit, integer
    division doesn't). Returns (id_a, id_b, sim) for pairs at or above
    ``threshold``, id_a < id_b.

    The inverted-index formulation, the standard sub-quadratic text
    similarity at scale: pairs are generated ONLY through shared terms
    (join on token), never doc x doc. ``max_df`` is the prefix filter —
    a term in d docs contributes d^2 join rows, so corpus-wide
    stop-terms are dropped before the pair stage (they carry the least
    weight anyway: w ~ 1/df). Dot products and norms are summed in
    DECIMAL(38,0) (exact, order-free) and only the final cosine touches
    floating point via correctly-rounded double ops — bit-identical in
    any engine.
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token"))
    tf = tok.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("dfc"))
        .filter(F.col("dfc") <= max_df)
    )
    # the norm rides along on every weight row (per-id window) instead of
    # living in a separate norms relation — a norms table would make the
    # whole tokenize->tf->df pipeline appear FOUR times in the self-join
    # plan (norms x2 + pair sides x2); this form keeps it at the self-
    # join's inherent two (persist/checkpoint `w` to reach one at scale)
    w = (
        tf.join(dfreq, "token")
        .select("id", "token", F.expr(f"tf * {scale} div dfc").cast("bigint").alias("w"))
        .withColumn(
            "__n2",
            F.sum(F.col("w").cast("decimal(38,0)") * F.col("w"))
            .over(Window.partitionBy("id"))
            .cast("double"),
        )
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.sum(F.col("a.w").cast("decimal(38,0)") * F.col("b.w"))
            .cast("double")
            .alias("dot"),
            F.max(F.col("a.__n2")).alias("__na"),
            F.max(F.col("b.__n2")).alias("__nb"),
        )
    )
    sim = F.col("dot") / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb")))
    return dots.filter(sim >= threshold).select(
        "id_a", "id_b", F.round(sim, 6).alias("sim")
    )


def text_stats_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, punct_ratio, stopword_ratio, mean_token_len) with
    the token array staged ONCE — the single-expression helpers each
    re-run the regex split when inlined side by side in one select."""
    staged = df.select(
        F.col(id_col), F.col(text_col).alias("__txt"), tokens(text_col).alias("__t")
    )
    t = F.col("__t")
    n = F.greatest(F.size(t), F.lit(1))
    sw_hits = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    tok_chars = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return staged.select(
        id_col,
        F.size(t).cast("bigint").alias("n_tokens"),
        punct_ratio(F.col("__txt")).alias("punct_ratio"),
        F.round(sw_hits / n, 6).alias("stopword_ratio"),
        F.round(tok_chars / n, 6).alias("mean_token_len"),
    )


def add_text_stats(df: DataFrame, key: str = "text") -> DataFrame:
    """Convenience: attach the full text-analysis column set. Tokens are
    staged ONCE and shared by every token-derived stat (the inline
    helpers would each re-run the regex split)."""
    staged = df.withColumn("__t", tokens(key))
    t = F.col("__t")
    n = F.greatest(F.size(t), F.lit(1))
    sw_hits = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    tok_chars = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return (
        staged.withColumn("n_tokens", F.size(t).cast("bigint"))
        .withColumn("punct_ratio", punct_ratio(key))
        .withColumn("stopword_ratio", F.round(sw_hits / n, 6))
        .withColumn("mean_token_len", F.round(tok_chars / n, 6))
        .withColumn("quality", quality_score(key, token_col="__t"))
        .withColumn("lang_pred", lang_id(key, token_col="__t"))
        .withColumn("fingerprint", fingerprint(key))
        .drop("__t")
    )


# --------------------------------------------------------------------- #
# PII detection / redaction (training-data compliance pass). Patterns are
# the portable intersection of Java regex (Spark, whole-stage codegen)
# and RE2 (DuckDB oracle): no lookaround, no backrefs. At 100 TB this is
# a pure map stage — no shuffle, scan-fused, zero Python.
# --------------------------------------------------------------------- #
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII kind (JVM regexp_extract_all + size)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[kind]), 0)).cast("bigint")


def redact_pii(col: Column | str, kinds: tuple[str, ...] | None = None, token: str = "[PII]") -> Column:
    """Replace every PII match with ``token`` (chained JVM
    regexp_replace — replaces ALL occurrences per kind).

    NB ordering: ``ssn`` runs before ``phone`` (their surface syntax
    overlaps; the more specific pattern must win), and ``ipv4`` before
    ``phone`` for dotted numerics."""
    c = F.col(col) if isinstance(col, str) else col
    order = kinds if kinds is not None else ("email", "ssn", "ipv4", "phone")
    for kind in order:
        c = F.regexp_replace(c, PII_PATTERNS[kind], token)
    return c


def pii_stats_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document PII counts + redacted-text fingerprint: the audit
    table a compliance pass materializes before filtering/redaction."""
    counts = [pii_count(text_col, k).alias(f"n_{k}") for k in PII_PATTERNS]
    return df.select(
        F.col(id_col),
        *counts,
        F.md5(redact_pii(text_col)).alias("redacted_md5"),
    )


# --------------------------------------------------------------------- #
# C4-style line-level cleanup (the boilerplate pass training pipelines
# run before dedup): keep a LINE only if it ends in terminal punctuation
# and has >= min_words words; keep the DOC only if >= min_lines lines
# survive. Pure HOF/filter expressions — scan-fused map stage, the line
# loop stays inside the JVM.
# --------------------------------------------------------------------- #
def c4_clean_lines(
    col: Column | str,
    min_words: int = 3,
    terminal: str = ".!?\"'",
) -> Column:
    """text -> surviving lines (C4 rule: terminal punctuation + word
    minimum per line)."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, r"\n")
    kept = F.filter(
        lines,
        lambda ln: (
            (F.size(F.filter(F.split(F.trim(ln), r"\s+"), lambda w: w != "")) >= min_words)
            & F.substring(F.rtrim(ln), -1, 1).isin(*list(terminal))
        ),
    )
    return kept


def dedup_lines(col: Column | str) -> Column:
    """text -> lines with later repeats of an identical line removed
    (first occurrence kept) — the within-document half of boilerplate
    removal (RefinedWeb line-dedup: nav bars, cookie banners, repeated
    headers), complementing the cross-corpus `dedup.paragraph_dedup`.

    Scan-fused HOF: per row the cost is O(lines² ) via array_position
    (first index of the line), which is the right trade for real
    documents (10–10³ lines); a pathological 10⁶-line blob belongs in
    the explode + (id, line) groupBy formulation instead. `bind_once`
    pins the split so the array is materialized once, not per element
    (the q215 O(n²)-re-evaluation lesson)."""
    c = F.col(col) if isinstance(col, str) else col
    return bind_once(
        F.split(c, r"\n"),
        lambda ls: F.filter(ls, lambda ln, i: F.array_position(ls, ln) == i + 1),
    )


def dedup_lines_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document line-dedup audit: line count before/after and the
    md5 of the cleaned (first-occurrence-only) text.

    The split array and the O(lines²) kept-filter are STAGED as columns
    (each referenced twice downstream, so Catalyst keeps them un-inlined
    per SPARK-36718) — inlining the HOF into both size() and md5() would
    run the quadratic first-occurrence filter twice per row."""
    staged = df.select(
        F.col(id_col), F.split(F.col(text_col), r"\n").alias("__ls")
    ).select(
        F.col(id_col),
        F.size("__ls").cast("int").alias("n_lines"),
        F.filter(
            F.col("__ls"),
            lambda ln, i: F.array_position(F.col("__ls"), ln) == i + 1,
        ).alias("__k"),
    )
    return staged.select(
        F.col(id_col),
        "n_lines",
        F.size("__k").cast("int").alias("n_kept"),
        F.md5(F.array_join("__k", "\n")).alias("cleaned_md5"),
    )


def c4_filter_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 3,
    min_lines: int = 1,
) -> DataFrame:
    """Per-document C4 cleanup audit: surviving line count, total line
    count, the cleaned text (surviving lines re-joined), and the keep
    decision. Filtering is `.filter(kept)` downstream — kept as a column
    so the audit table shows what the pass would drop."""
    kept = c4_clean_lines(text_col, min_words=min_words)
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), r"\n")).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.md5(F.array_join(kept, "\n")).alias("cleaned_md5"),
        (F.size(kept) >= min_lines).alias("keep"),
    )


def nb_token_weights(
    df: DataFrame,
    label_col: str,
    text_col: str,
    smoothing: int = 1,
) -> DataFrame:
    """Train a Naive-Bayes-style token log-odds table from weak labels
    (the CCNet/fastText-style quality-classifier stage, made fully
    deterministic): weight(t) = ln((pos_t + s) / (pos_total + s*V))
    - ln((neg_t + s) / (neg_total + s*V)) over integer token counts.

    Pure aggregation — one shuffle on token — and the counts are exact
    integers, so the weights are reproducible bit for bit from the same
    corpus in any engine with IEEE doubles. Returns (token, w).
    """
    tok = df.select(
        F.col(label_col).cast("int").alias("__y"),
        F.explode(tokens(text_col)).alias("token"),
    )
    counts = tok.groupBy("token").agg(
        F.sum("__y").alias("__p"),
        F.sum(1 - F.col("__y")).alias("__n"),
    )
    tot = tok.groupBy().agg(
        F.sum("__y").alias("__tp"),
        F.sum(1 - F.col("__y")).alias("__tn"),
        F.countDistinct("token").alias("__v"),
    )
    s = F.lit(smoothing)
    return counts.crossJoin(F.broadcast(tot)).select(
        "token",
        (
            F.log((F.col("__p") + s) / (F.col("__tp") + s * F.col("__v")))
            - F.log((F.col("__n") + s) / (F.col("__tn") + s * F.col("__v")))
        ).alias("w"),
    )


def nb_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str,
    text_col: str,
    quantize: int | None = 6,
) -> DataFrame:
    """Score documents with a trained token-weight table: per-doc sum of
    token log-odds (tokens WITH multiplicity, unseen tokens contribute
    0). One explode + one hash join on token + one groupBy on the doc id
    — at scale the weight table is the broadcast side when it fits, and
    the score is a map-side-combined sum either way.

    ``quantize`` (digits): weights are floored to integer 10^-q units
    and summed as EXACT bigints — float sums depend on accumulation
    order, which Spark does not fix across partitions, so an unquantized
    sum is irreproducible run to run (and engine to engine). Pass None
    for raw float sums when reproducibility doesn't matter.

    Returns (id, n_tokens, score).
    """
    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token"))
    w = F.coalesce(F.col("w"), F.lit(0.0))
    if quantize is None:
        score = F.sum(w)
    else:
        unit = 10**quantize
        score = F.sum(F.floor(w * F.lit(unit)).cast("bigint")) / F.lit(float(unit))
    return (
        tok.join(weights, "token", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            score.alias("score"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Span-level exact dedup: remove every k-token span whose exact
    token sequence occurs >= ``min_df`` times across the corpus — the
    relational form of suffix-array substring dedup (boilerplate
    headers/footers, licence blocks, templated sentences), which
    document- and paragraph-level dedup both miss.

    Pipeline (all relational, one explode + two shuffles):
    1. positional k-gram shingles (id, pos, md5(shingle)) — one row per
       token position, so volume = corpus token count (linear);
    2. document frequency per shingle digest, repeated = df >= min_df
       (map-side partial counts; the shuffle carries 16-byte digests);
    3. semi-join marks repeated positions; per doc, gaps-and-islands
       merges overlapping/adjacent [pos, pos+k) spans (window per doc);
    4. tokens outside every merged span rebuild the text.

    Returns (id, n_tokens, n_removed, clean_text) where clean_text is
    the TOKEN-level reconstruction (lower-cased, punctuation collapsed
    — the same normalization every shingle op here uses; a char-exact
    variant would carry token→char offsets through the same plan).
    """
    # both intermediates are referenced by two downstream branches each
    # (staged: explode + rebuild; pos_sh: df-count + mark) — checkpoint
    # so the regex tokenize and the shingle explode run once, not 2-3x
    staged = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__t")
    ).localCheckpoint(eager=False)
    pos_sh = (
        staged.select(
            "id",
            F.posexplode(shingles_from_tokens(F.col("__t"), k)).alias("pos0", "__s"),
        )
        .select("id", (F.col("pos0") + 1).alias("pos"), F.md5("__s").alias("h"))
        .localCheckpoint(eager=False)
    )
    repeated = pos_sh.groupBy("h").count().filter(F.col("count") >= min_df).select("h")
    marked = pos_sh.join(repeated, "h", "left_semi")

    w = Window.partitionBy("id").orderBy("pos")
    isl = marked.withColumn(
        "island",
        F.sum(
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") - F.lag("pos").over(w) > k),
                1,
            ).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = (
        isl.groupBy("id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__spans"))
    )
    joined = staged.join(spans, "id", "left").withColumn(
        "__spans",
        F.coalesce(F.col("__spans"), F.array().cast("array<struct<s:int,e:int>>")),
    )
    kept = F.filter(
        F.col("__t"),
        lambda t, i: ~F.exists(
            F.col("__spans"), lambda sp: (sp["s"] <= i + 1) & (i + 1 < sp["e"])
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.size("__t").cast("bigint").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval for a fixed term list: one corpus scan
    computes the global stats (N, total doc length, per-term document
    frequency) as a single aggregate row that broadcasts back onto the
    scoring pass — no inverted index materialization for ad-hoc
    queries, and the scoring stage is pure JVM expressions.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + ½)/(df + ½)) — the standard Robertson
    form. Returns (id, score, rank) for the top ``k`` docs with
    score > 0; score rounded to 4 decimals (ln is not required to be
    correctly rounded across libms — the rounding plus id tie-break
    keeps the RANKING engine-portable, same epsilon-margin argument as
    the FFT oracle).

    At scale: the stats aggregate is one map-side-combined pass; for a
    standing query workload, materialize an inverted index instead
    (tfdf_keywords is that path) — this operator is the ad-hoc form.
    """
    staged = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("__t"))
    dl = F.size("__t")
    stat_aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(dl).alias("__sumdl"),
    ] + [
        F.sum(F.array_contains("__t", t).cast("long")).alias(f"__df{i}")
        for i, t in enumerate(terms)
    ]
    stats = staged.agg(*stat_aggs)
    scored = staged.crossJoin(F.broadcast(stats))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n")
    score = F.lit(0.0)
    for i, t in enumerate(terms):
        tf = F.size(F.filter("__t", lambda x: x == F.lit(t))).cast("double")
        dfc = F.col(f"__df{i}").cast("double")
        idf = F.log(
            F.lit(1.0) + (F.col("__n") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
        )
        score = score + idf * (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / avgdl)
        )
    out = scored.select("id", F.round(score, 4).alias("score")).filter(
        F.col("score") > 0.0
    )
    # global top-k: orderBy().limit(k) first (distributed
    # TakeOrderedAndProject — each task keeps its own top k, the driver
    # merges k*n_tasks rows), THEN the row_number window over only the k
    # survivors. For common query terms the score>0 set IS the corpus,
    # so ranking it with one constant-key window would funnel the whole
    # corpus through a single-task sort. NOTE: Spark 4's
    # LimitPushDownThroughWindow rule happened to rescue the previous
    # `window then filter(rank <= k)` form into this exact plan (verified
    # by plan diff + a stop-word probe showing time parity) — the
    # explicit form makes the shape source-guaranteed instead of
    # optimizer-dependent (the rule only fires on literal rank filters it
    # can prove limit-like).
    top = out.orderBy(F.desc("score"), F.asc("id")).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("score"), F.asc("id"))
    return top.select(
        F.col("id").alias(id_col),
        "score",
        F.row_number().over(w).cast("int").alias("rank"),
    )


def bigram_coherence(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Statistical LM quality signal (KenLM-perplexity-shaped, library-
    free): train a bigram model ON the corpus itself, then score each
    document by the average conditional bigram frequency of its token
    pairs, in exact integer parts-per-million —
    ``p_ppm(w1,w2) = 1e6 * c(w1,w2) div c(w1,·)`` summed per doc and
    divided (integer div) by its bigram count. Low scores = incoherent
    token sequences (boilerplate soup, shuffled text); the standard
    cheap perplexity proxy when no external LM is available.

    All-integer arithmetic end to end, so the score is bit-identical
    across engines and partitionings. Plan shape: one token explode
    feeds both the model aggregation and the scoring join; bigram
    counts shuffle on (w1,w2) — vocabulary-sized, not corpus-sized —
    and the per-doc rollup shuffles on the id. No Python, no driver
    state, no broadcast of unbounded vocab."""
    d = df.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__t"))
    big = d.select(
        "__id",
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice("__t", 2, F.greatest(F.size("__t") - 1, F.lit(0))),
            )
        ).alias("__z"),
    ).select("__id", F.col("__z.0").alias("w1"), F.col("__z.1").alias("w2"))
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c2"))
    ctx = big.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    scored = (
        big.join(c2, ["w1", "w2"])
        .join(ctx, ["w1"])
        .select("__id", F.expr("1000000 * __c2 div __c1").alias("__ppm"))
    )
    return scored.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("sum(__ppm) div count(1)").cast("bigint").alias("coherence_ppm"),
    ).select(F.col("__id").alias(id_col), "n_bigrams", "coherence_ppm")


def bpe_learn_merges(
    df, text_col: str = "text", n_merges: int = 5, pattern: str = BPE_PATTERN
):
    """Distributed BPE vocabulary training (Sennrich et al., "Neural
    Machine Translation of Rare Words with Subword Units", ACL 2016):
    learn ``n_merges`` merge rules from a corpus, returning the rule
    table (step, left_sym, right_sym, pair_count).

    Structure is the classic BPE trainer, distributed where it matters:
    the ONE corpus-scale stage is the pre-token frequency count (scan +
    groupBy); every merge iteration then runs on the tiny distinct-word
    table (vocabulary-sized, not corpus-sized), and only the single
    winning rule row ever reaches the driver per step. Deterministic:
    ties break by (count DESC, left ASC, right ASC) on the wrapped
    symbol encoding, so the learned vocabulary is reproducible and
    cross-engine hash-checkable.

    Symbol sequences are encoded as delimited strings — each symbol
    wrapped in \\x1f and joined with a space — so applying a merge is
    ONE ``replace()`` per word: left-to-right non-overlapping
    replacement (Java, DuckDB, and Python ``str.replace`` all share
    these semantics) is exactly BPE's greedy merge application, and the
    \\x1f wrappers stop a rule (a,b) from matching the tail of a longer
    symbol like "xa". Plans stay linear via localCheckpoint per step.
    """
    US = "\x1f"
    spark = df.sparkSession
    words = (
        df.select(F.explode(bpe_tokens(text_col, pattern)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.regexp_extract_all(F.col("w"), F.lit("(?s)."), 0)
    s0 = F.concat(F.lit(US), F.array_join(chars, US + " " + US), F.lit(US))
    # lazy checkpoints: lineage still truncates, but the materialization
    # fuses into the NEXT step's pair-count job instead of running its
    # own — halves the per-step job count (and Spark's per-job floor)
    cur = words.select(s0.alias("s"), "cnt").localCheckpoint(eager=False)
    # one-parse pair extraction (r12 chatter cut): the Column/lambda form
    # of this block cost ~150 py4j round trips per merge step; the SQL
    # text below is the identical expression tree. The symbol array is
    # bound once per row through a 1-element array (bind_once — a bare
    # split() reference would be re-evaluated per lambda element), and
    # inline() replaces explode+struct-field projection.
    pairs_sql = (
        "inline(element_at(transform(array(split(s, ' ')), syms ->"
        " CASE WHEN size(syms) >= 2 THEN"
        " transform(sequence(1, size(syms) - 1),"
        " i -> struct(element_at(syms, i) AS wa,"
        " element_at(syms, i + 1) AS wb))"
        " ELSE CAST(array() AS array<struct<wa:string,wb:string>>) END), 1))"
    )
    merges = []
    # loop_actions (r12): the merge steps run on the vocabulary-sized
    # word table — AQE stage-jobs and session-wide shuffle partitions
    # are pure overhead per step; counts/orderings are partition-count
    # independent so the learned rules are identical
    from dabstract_spark.core import loop_actions

    with loop_actions(spark):
        for step in range(1, n_merges + 1):
            pc = (
                cur.selectExpr(pairs_sql, "cnt")
                .groupBy("wa", "wb")
                .agg(F.expr("sum(cnt) AS total"))
            )
            best = (
                pc.orderBy(F.desc("total"), F.asc("wa"), F.asc("wb")).limit(1).collect()
            )
            if not best:
                break
            wa, wb, total = best[0]["wa"], best[0]["wb"], int(best[0]["total"])
            merges.append((step, wa[1:-1], wb[1:-1], total))
            pat, rep = wa + " " + wb, wa[:-1] + wb[1:]
            cur = cur.withColumn(
                "s", F.replace(F.col("s"), F.lit(pat), F.lit(rep))
            ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "step int, left_sym string, right_sym string, pair_count bigint"
    )


def bpe_encode_counts(
    df,
    id_col: str,
    text_col: str,
    merges: list[tuple],
    pattern: str = BPE_PATTERN,
):
    """Apply learned BPE merge rules (from ``bpe_learn_merges``) at
    corpus scale and report per-document token counts before and after
    merging — the 'real' LLM token budget the pre-token count
    (``bpe_token_count``) only approximates.

    Encoding is map-side only until the final per-doc aggregation: each
    pre-token becomes its \\x1f-delimited character string and the merge
    rules apply as a fixed chain of left-to-right ``replace``\\ s (the
    same greedy semantics the trainer used), so the whole encode stage
    is whole-stage-codegen string ops — no UDF, no shuffle except the
    one groupBy on ``id_col``.

    ``merges``: [(step, left_sym, right_sym, count), ...] in step order.
    """
    US = "\x1f"
    tok = df.select(
        F.col(id_col), F.explode(bpe_tokens(text_col, pattern)).alias("__w")
    )
    chars = F.regexp_extract_all(F.col("__w"), F.lit("(?s)."), 0)
    s = F.concat(F.lit(US), F.array_join(chars, US + " " + US), F.lit(US))
    for _, left_sym, right_sym, *_rest in sorted(merges):
        wa, wb = US + left_sym + US, US + right_sym + US
        s = F.replace(s, F.lit(wa + " " + wb), F.lit(wa[:-1] + wb[1:]))
    return (
        tok.select(id_col, F.size(F.split(s, " ")).alias("__n"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pre_tokens"),
            F.sum("__n").cast("bigint").alias("n_bpe_tokens"),
        )
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_wlen_ppm: int = 3_000_000,
    max_wlen_ppm: int = 10_000_000,
    min_alpha_ppm: int = 800_000,
    min_stopwords: int = 2,
    max_symbol_ppm: int = 100_000,
    max_bullet_ppm: int = 900_000,
    max_ellipsis_ppm: int = 300_000,
    stopwords: tuple = ("the", "a", "of", "and", "to", "in", "is", "it"),
) -> DataFrame:
    """The Gopher/MassiveText document quality rules (Rae et al. 2021,
    appendix A1.1) as one scan-fused audit: per document, each named
    rule's boolean plus the overall ``keep`` conjunction. Defaults are
    the published thresholds; every ratio is exact integer ppm so the
    verdicts are engine-portable (no float thresholds).

    Rules — word count in [min,max]; mean word length in [min,max];
    ≥ min_alpha_ppm of words contain an alphabetic character;
    ≥ min_stopwords distinct-occurrence stopword hits; symbol
    ('#'/'...')-to-word ratio ≤ max_symbol_ppm; ≤ max_bullet_ppm of
    lines starting with a bullet; ≤ max_ellipsis_ppm of lines ending
    with an ellipsis.

    All whole-stage-codegen HOFs over the tokens array: zero shuffle,
    zero UDF — at 100 TB this is a pure map stage fused into the scan,
    the cheapest possible shape for a corpus-wide gate."""
    toks = tokens(text_col)
    t = F.col(text_col)
    lines = F.split(t, "\n")
    n = F.size(toks).cast("bigint")
    chars = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]"))).cast("bigint")
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    stops = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast(
        "bigint"
    )
    hashes = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    dots = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbols = (hashes + dots).cast("bigint")
    nl = F.size(lines).cast("bigint")
    bullet = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("-") | x.startswith("*") | x.startswith("•"),
        )
    ).cast("bigint")
    ell = F.size(
        F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
    ).cast("bigint")

    staged = df.select(
        F.col(id_col),
        n.alias("n_words"),
        chars.alias("__chars"),
        alpha.alias("__alpha"),
        stops.alias("__stops"),
        symbols.alias("__sym"),
        nl.alias("__nl"),
        bullet.alias("__bullet"),
        ell.alias("__ell"),
    )
    out = staged.select(
        id_col,
        "n_words",
        F.expr("CAST((__chars * 1000000) div greatest(n_words, 1) AS BIGINT)").alias(
            "wlen_ppm"
        ),
        (F.col("n_words").between(min_words, max_words)).alias("r_wordcount"),
        (
            F.expr("(__chars * 1000000) div greatest(n_words, 1)").between(
                min_wlen_ppm, max_wlen_ppm
            )
        ).alias("r_wordlen"),
        (
            F.expr("(__alpha * 1000000) div greatest(n_words, 1)") >= min_alpha_ppm
        ).alias("r_alpha"),
        (F.col("__stops") >= min_stopwords).alias("r_stopwords"),
        (F.expr("(__sym * 1000000) div greatest(n_words, 1)") <= max_symbol_ppm).alias(
            "r_symbol"
        ),
        (F.expr("(__bullet * 1000000) div greatest(__nl, 1)") <= max_bullet_ppm).alias(
            "r_bullet"
        ),
        (F.expr("(__ell * 1000000) div greatest(__nl, 1)") <= max_ellipsis_ppm).alias(
            "r_ellipsis"
        ),
    )
    return out.withColumn(
        "keep",
        F.col("r_wordcount")
        & F.col("r_wordlen")
        & F.col("r_alpha")
        & F.col("r_stopwords")
        & F.col("r_symbol")
        & F.col("r_bullet")
        & F.col("r_ellipsis"),
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus-trained bigram LM
    (:func:`bigram_coherence`) and cut the corpus into ``n_buckets``
    quality tiers — bucket 0 = "head" (most coherent), last = "tail" —
    the split CCNet uses to keep/downweight/drop web text.

    Exact and engine-portable: scores are integer ppm, and the tier cut
    is value-level — every doc with the same score lands in the same
    bucket, assigned by the cumulative count of STRICTLY better scores
    (``bucket = min(n_buckets-1, before*n_buckets div n)``) — so no
    float quantiles and no tie ambiguity. The only window runs over the
    DISTINCT score values (≤ 1e6 rows by the ppm codomain, usually far
    fewer), never the corpus; the doc→bucket assignment is a hash join
    on the score value. Docs with fewer than 2 tokens have no bigrams
    and no score — excluded, like the scorer itself.

    Returns per-doc (id, coherence_ppm, bucket)."""
    from pyspark.sql import Window

    sc = bigram_coherence(df, id_col, text_col).select(
        id_col, F.col("coherence_ppm").alias("__s")
    )
    vals = sc.groupBy("__s").agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy(F.desc("__s"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = vals.agg(F.sum("__c").alias("__n"))
    bk = (
        vals.withColumn("__before", F.coalesce(F.sum("__c").over(w), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .select(
            "__s",
            F.expr(
                f"CAST(least({n_buckets - 1},"
                f" (__before * {n_buckets}) div __n) AS INT)"
            ).alias("bucket"),
        )
    )
    return sc.join(bk, "__s").select(
        id_col, F.col("__s").alias("coherence_ppm"), "bucket"
    )


def _dsir_features_sql(col_sql: str) -> str:
    """DSIR's hashed n-gram feature list, as SQL text: word unigrams +
    adjacent bigrams, tagged so 'u:x' can never collide with 'b:x y'
    before hashing. A document's importance evidence is the multiset of
    these strings; bucketing (below) fixes the feature dimension
    regardless of vocabulary size — the memory bound that makes the
    method run at web scale. One parse per plan (r12 chatter cut), which
    matters doubly for the STREAMING scorer: it rebuilds this plan once
    per micro-batch."""
    t = _tokens_sql(col_sql)
    return (
        f"concat(transform({t}, x -> concat('u:', x)),"
        f" zip_with(slice({t}, 1, greatest(size({t}) - 1, 0)),"
        f" slice({t}, 2, greatest(size({t}) - 1, 0)),"
        f" (a, b) -> concat('b:', a, ' ', b)))"
    )


def dsir_logratio_table(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    n_buckets: int = 4096,
    smoothing: int = 1,
    quantize: int = 6,
    seed: int = 0,
) -> DataFrame:
    """DSIR importance-weight table (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): hash unigram+bigram
    features into ``n_buckets`` buckets and estimate, per bucket, the
    log-ratio ``ln p_target(b) - ln p_raw(b)`` with add-``smoothing``
    Laplace estimates. A raw document's importance weight is the sum of
    its buckets' log-ratios — how much more the TARGET distribution
    (e.g. wikipedia/books) likes its n-grams than the raw crawl does.

    Returns the ≤ n_buckets-row table (bucket, w_units) with the ratio
    floored to integer 10^-quantize units (``nb_score``'s recipe: exact
    bigint sums downstream, so per-doc scores are reproducible across
    partitionings and engines).

    Scale shape: two corpus scans reducing map-side to ≤ n_buckets rows
    each; the table itself is broadcast-sized by construction."""
    from dabstract_spark.functions.hashing import md5_bucket_sql

    def bucket_counts(df, name):
        return (
            df.selectExpr(
                f"explode({_dsir_features_sql(f'`{text_col}`')}) AS __f"
            )
            .selectExpr(md5_bucket_sql("__f", n_buckets, seed) + " AS bucket")
            .groupBy("bucket")
            .agg(F.expr(f"count(1) AS `{name}`"))
        )

    spark = target.sparkSession
    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    ct = bucket_counts(target, "__ct")
    cr = bucket_counts(raw, "__cr")
    j = (
        spine.join(ct, "bucket", "left")
        .join(cr, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("__ct", F.lit(0)).alias("__ct"),
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
        )
    )
    return _dsir_table_from_counts(j, n_buckets, smoothing, quantize)


def _dsir_table_from_counts(
    j: DataFrame, n_buckets: int, smoothing: int, quantize: int
) -> DataFrame:
    """(bucket, __ct, __cr) → (bucket, w_units): the smoothed log-ratio
    math shared by the two-corpus and single-pass flagged builders, so
    the recipe cannot drift between them."""
    tot = j.agg(F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr"))
    s = F.lit(smoothing)
    b = F.lit(n_buckets)
    w = F.log((F.col("__ct") + s) / (F.col("__tt") + s * b)) - F.log(
        (F.col("__cr") + s) / (F.col("__tr") + s * b)
    )
    unit = 10 ** quantize
    return j.crossJoin(F.broadcast(tot)).select(
        "bucket", F.floor(w * F.lit(unit)).cast("bigint").alias("w_units")
    )


def dsir_logratio_table_flagged(
    df: DataFrame,
    is_target,
    text_col: str,
    n_buckets: int = 4096,
    smoothing: int = 1,
    quantize: int = 6,
    seed: int = 0,
) -> DataFrame:
    """Single-pass :func:`dsir_logratio_table`: when target and raw live
    in ONE corpus distinguished by a flag (the common case — "wikipedia
    rows vs the rest of this crawl"), both bucket-count tables come from
    one scan via conditional aggregation. At 100 TB that halves the
    table-build I/O vs the two-DataFrame form, which scans the shared
    source once per side. ``is_target`` is a boolean Column (or column
    name); output is identical to the two-corpus builder on the same
    split (shared ``_dsir_table_from_counts`` math)."""
    from dabstract_spark.functions.hashing import md5_bucket_sql

    flag = (F.col(is_target) if isinstance(is_target, str) else is_target).cast(
        "int"
    )
    feats = df.select(
        flag.alias("__y"),
        F.expr(f"explode({_dsir_features_sql(f'`{text_col}`')})").alias("__f"),
    ).selectExpr("__y", md5_bucket_sql("__f", n_buckets, seed) + " AS bucket")
    counts = feats.groupBy("bucket").agg(
        F.sum("__y").alias("__ct"), F.sum(1 - F.col("__y")).alias("__cr")
    )
    spark = df.sparkSession
    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    j = spine.join(counts, "bucket", "left").select(
        "bucket",
        F.coalesce("__ct", F.lit(0)).alias("__ct"),
        F.coalesce("__cr", F.lit(0)).alias("__cr"),
    )
    return _dsir_table_from_counts(j, n_buckets, smoothing, quantize)


def dsir_select(
    raw: DataFrame,
    table: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_buckets: int = 4096,
    seed: int = 0,
) -> DataFrame:
    """Select the ``k`` most target-like raw documents by DSIR
    importance weight (the deterministic top-k variant of the paper's
    Gumbel resampling — same scores, reproducible pick): per document,
    the exact-integer sum of its hashed features' ``w_units``
    (multiplicity counts, as in the paper's bag-of-hashed-ngrams
    model), then a small-k TakeOrdered.

    One explode + one broadcast join on the ≤ n_buckets-row table + one
    map-side-combinable groupBy(doc) — nothing data-sized shuffles, so
    the selection is a single pass over the raw corpus. Returns
    (rank, id, n_feats, score_units)."""
    from pyspark.sql import Window

    from dabstract_spark.functions.hashing import md5_bucket_sql

    feats = raw.selectExpr(
        f"`{id_col}` AS __id",
        f"explode({_dsir_features_sql(f'`{text_col}`')}) AS __f",
    ).selectExpr("__id", md5_bucket_sql("__f", n_buckets, seed) + " AS bucket")
    scored = (
        feats.join(F.broadcast(table), "bucket", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(F.coalesce("w_units", F.lit(0))).alias("score_units"),
        )
    )
    top = scored.orderBy(F.desc("score_units"), F.asc("__id")).limit(k)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("score_units"), F.asc("__id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", F.col("__id").alias(id_col), "n_feats", "score_units"
    )


def collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining (corpus analytics): adjacent token pairs
    ranked by LIFT — ``1e6·N·c(w1,w2) div (c(w1)·c(w2))``, the PMI
    argument without the log (log is monotone, so the ranking is
    PMI's; exact integers keep it engine-portable where IEEE log would
    not be). ``min_count`` drops rare pairs whose lift is noise — the
    standard collocation significance floor.

    Plan shape: one token explode feeds the bigram counts (shuffle on
    (w1, w2) — vocabulary-sized) and the unigram counts (vocabulary-
    sized); N is a 1-row broadcast; final ranking is a small-k
    TakeOrdered. Returns (rank, w1, w2, pair_cnt, lift_ppm)."""
    from pyspark.sql import Window

    d = df.select(F.col(id_col).alias("__id"), tokens(text_col).alias("__t"))
    big = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("__t", 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice("__t", 2, F.greatest(F.size("__t") - 1, F.lit(0))),
            )
        ).alias("__z")
    ).select(F.col("__z.0").alias("w1"), F.col("__z.1").alias("w2"))
    pairs = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_cnt"))
    toks = d.select(F.explode("__t").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("__c"))
    n = toks.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        pairs.filter(F.col("pair_cnt") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("__c", "__c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("__c", "__c2"), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "pair_cnt",
            F.expr(
                "CAST((CAST(pair_cnt AS DECIMAL(38,0)) * __n * 1000000)"
                " div (CAST(__c1 AS DECIMAL(38,0)) * __c2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    top = scored.orderBy(
        F.desc("lift_ppm"), F.desc("pair_cnt"), F.asc("w1"), F.asc("w2")
    ).limit(top_k)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("lift_ppm"), F.desc("pair_cnt"), F.asc("w1"), F.asc("w2")
    )
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "w1", "w2", "pair_cnt", "lift_ppm"
    )
