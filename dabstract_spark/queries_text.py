"""Text / dedup / similarity / events query catalog entries (SURVEY §7-M6)
with DuckDB oracles.

The oracle SQL for hash-heavy operators (minhash, simhash, LSH) is
generated programmatically to mirror the Spark expressions term for term —
both engines share md5 as the hash primitive, so signatures match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dabstract_spark.operators import dedup as dd, events as ev, similarity as sim, text as tx
from dabstract_spark.queries import _t, query
from dabstract_spark.session import scratch_dir

# ---- shared DuckDB SQL fragments ------------------------------------- #
_TOKENS = "list_filter(string_split_regex(lower({c}), '\\W+'), t -> t <> '')"
_NORM = "regexp_replace(trim(lower({c})), '\\s+', ' ', 'g')"


def _shingles(c: str, k: int = 3) -> str:
    toks = _TOKENS.format(c=c)
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(generate_series(1, len({toks}) - {k - 1}), "
        f"i -> array_to_string(({toks})[i:i+{k - 1}], ' ')) "
        f"ELSE [] END"
    )


# mirrors operators/dedup.py's universal-hash MinHash family: one md5
# per TOKEN folded to bigint mod p, per-shingle polynomial fold
# acc = (acc*131 + th) mod p over the k token hashes, then
# (a_i*h + b_i) mod p per hash function
_TH = "list_transform(t, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647)"
_POLY3 = (
    "(((th[i] * 131 + th[i+1]) % 2147483647) * 131 + th[i+2]) % 2147483647"
)
_HS3 = (
    f"CASE WHEN len(th) >= 3 THEN "
    f"list_transform(generate_series(1, len(th) - 2), i -> {_POLY3}) "
    f"ELSE [] END"
)


def _minhash_list(n_hashes: int) -> str:
    """[mh_0, ..., mh_n] over a CTE column named hs (staged shingle hashes)."""
    mins = ", ".join(
        f"list_aggregate(list_transform(hs, h -> (h * {2 * i + 1} + {7919 * i}) % 2147483647), 'min')"
        for i in range(n_hashes)
    )
    return f"[{mins}]"


# --------------------------------------------------------------------- #
# Text analysis (token counting, quality scoring, language-ID,
# fingerprinting)
# --------------------------------------------------------------------- #
_T = _TOKENS.format(c="text")
_SW = "('the','a','of','and','to','in','is','it')"

@query(
    "q40_text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_T}) AS BIGINT) AS n_tokens,
           ROUND(length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                 / greatest(length(text), 1), 6) AS punct_ratio,
           ROUND(len(list_filter({_T}, t -> t IN {_SW}))
                 / greatest(len({_T}), 1), 6) AS stopword_ratio,
           -- DuckDB list_sum([]) is NULL but Spark's aggregate with a 0
           -- seed is 0: empty docs read 0.0; NULL text stays NULL
           CASE WHEN {_T} IS NULL THEN NULL
                ELSE ROUND(coalesce(list_sum(list_transform({_T}, t -> length(t))), 0)
                           / greatest(len({_T}), 1), 6) END AS mean_token_len
    FROM documents
    """,
)
def q40_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return tx.text_stats_df(docs, "doc_id", "text")


_MARK_SQL = {
    lang: "(" + ",".join(f"'{w}'" for w in words) + ")"
    for lang, words in tx.LANG_MARKERS.items()
}
_SCORE = {
    lang: f"len(list_filter({_T}, t -> t IN {m}))" for lang, m in _MARK_SQL.items()
}

@query(
    "q41_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                WHEN {_SCORE['dt']} > 0 THEN 'dt'
                ELSE 'und' END AS lang_pred
    FROM documents
    """,
)
def q41_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", tx.lang_id("text").alias("lang_pred"))


@query(
    "q42_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST(('0x' || substr(md5({_NORM.format(c='text')}), 1, 15)) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def q42_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint("text").alias("fingerprint"))


@query(
    "q43_quality_score",
    # integer ppm arithmetic end-to-end — float round() half-boundary
    # behavior differs between engines, integer division doesn't
    oracle=f"""
    SELECT doc_id,
           ((5 * least(length(text)::BIGINT * 2500, 1000000)
             + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                          // greatest(len({_T}), 1)) * 5, 1000000)
             + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                          // greatest(length(text), 1)) * 10, 1000000))) // 10)
           / 1000000.0::DOUBLE AS quality
    FROM documents
    """,
)
def q43_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.quality_score("text").alias("quality"))


# --------------------------------------------------------------------- #
# Deduplication
# --------------------------------------------------------------------- #
@query(
    "q44_exact_dedup",
    # NULL-content rows form singleton groups (pass through dedup) — the
    # partition key is salted with the row's own id when the hash is NULL,
    # mirroring operators/dedup.py:_min_id_per.
    oracle=f"""
    SELECT doc_id, source FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY COALESCE(md5({_NORM.format(c='text')}), 'null:' || CAST(doc_id AS VARCHAR))
      ORDER BY doc_id) = 1
    """,
)
def q44_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "doc_id", "text").select("doc_id", "source")


@query(
    "q45_minhash_bands",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0)
    SELECT doc_id, CAST(b AS INT) AS band_id,
           md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
    FROM sig, UNNEST(generate_series(0, 3)) AS t(b)
    """,
)
def q45_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_bands(docs, "doc_id", "text", n_hashes=16, bands=4, k=3)


@query(
    "q46_minhash_candidate_pairs",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM capped a JOIN capped b USING (band_id, band_hash)
    WHERE a.doc_id < b.doc_id
    """,
)
def q46_minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=64 is the production hot-band cap (md5-min prefix per
    # bucket) — oracled via the identical QUALIFY above, so the capped
    # pipeline itself is the hash-checked variant.
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_candidate_pairs(
        docs, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    )


def _simhash_sql(bits: int = 16) -> str:
    terms = []
    for b in range(bits):
        ones = (
            f"len(list_filter({_T}, t -> ('0x' || substr(md5(t), {b + 1}, 1))::INT % 2 = 1))"
        )
        terms.append(f"(CASE WHEN {ones} * 2 > len({_T}) THEN {2**b} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "q47_simhash",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN len({_T}) > 0 THEN CAST({_simhash_sql(16)} AS BIGINT) END AS simhash
    FROM documents
    """,
)
def q47_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_df(docs, "doc_id", "text", bits=16)


@query(
    "q90_simhash_dedup",
    # the dedup ACTION over simhash groups (q47 checks the fingerprint
    # values): min-id survivor per identical simhash; token-less docs
    # (NULL fingerprint) pass through via the per-row NULL salt,
    # mirroring _min_id_per
    oracle=f"""
    SELECT doc_id, source FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY COALESCE(
        CAST((CASE WHEN len({_T}) > 0 THEN CAST({_simhash_sql(16)} AS BIGINT) END) AS VARCHAR),
        'null:' || CAST(doc_id AS VARCHAR))
      ORDER BY doc_id) = 1
    """,
)
def q90_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_dedup(docs, "doc_id", "text", bits=16).select("doc_id", "source")


@query(
    "q48_jaccard_pairs",
    # max_df=100 document-frequency cap (prefix filtering): shingles shared
    # by >100 docs are excluded from candidate generation AND from
    # n_common, mirroring operators/dedup.py:jaccard_pairs. Denominators
    # still count all shingles.
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct({_shingles('text', 2)})) AS s
      FROM documents),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (s) JOIN kept USING (s) WHERE a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.12
    """,
)
def q48_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.12, max_df=100)


# --------------------------------------------------------------------- #
# Similarity search over embeddings
# --------------------------------------------------------------------- #
_DOT = (
    "list_sum(list_transform(generate_series(1, 64), "
    "j -> (a.embedding[j])::DOUBLE * (b.embedding[j])::DOUBLE))"
)
# Denominator legs carry the engine's zero-norm convention
# (similarity.norm_denom): a zero vector divides by 1 and reads cosine
# 0 in BOTH engines, instead of ANSI DIVIDE_BY_ZERO / NaN ranks.
_N2_A = "list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))"
_N2_B = "list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))"
_NORM_A = f"(CASE WHEN {_N2_A} = 0 THEN 1 ELSE sqrt({_N2_A}) END)"
_NORM_B = f"(CASE WHEN {_N2_B} = 0 THEN 1 ELSE sqrt({_N2_B}) END)"


@query(
    "q49_ann_topk_bruteforce",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 5)
    SELECT query_id, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def q49_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return sim.topk_bruteforce(emb, queries_df, k=3).select(
        "query_id", "vec_id", "sim", F.col("rank").cast("int").alias("rank")
    )


def _lsh_bucket_sql(n_bits: int = 8, seed: int = 0, col: str = "embedding") -> str:
    terms = []
    for i in range(n_bits):
        proj = (
            f"list_sum(list_transform(generate_series(1, 64), "
            f"j -> ({col}[j])::DOUBLE * (CASE WHEN ('0x' || substr(md5('{seed}:{i}:' || CAST(j - 1 AS VARCHAR)), 1, 1))::INT % 2 = 1 "
            f"THEN 1.0 ELSE -1.0 END)))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {2**i} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "q50_embedding_neardup",
    # the LSH-bucketed scale path IS the checked variant: candidates =
    # same hyperplane-sketch bucket, verified by exact cosine. The oracle
    # mirrors the md5-derived hyperplanes (similarity.py:_hyperplane_signs
    # folds the identical md5 parities to literals at plan-build time).
    oracle=f"""
    WITH bk AS (
      SELECT vec_id, embedding, CAST({_lsh_bucket_sql(8, 0)} AS BIGINT) AS bucket
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
    FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_DOT} / ({_NORM_A} * {_NORM_B}) >= 0.8
    """,
)
def q50_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.embedding_neardup_pairs(
        emb, threshold=0.8, n_bits=8, dim=64, seed=0, exact=False
    )


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"j -> ({a}[j])::DOUBLE * ({b}[j])::DOUBLE))"
    )


def _norm_denom_sql(a: str) -> str:
    """Oracle twin of similarity.norm_denom: zero norm -> 1."""
    n2 = f"list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE))"
    return f"(CASE WHEN {n2} = 0 THEN 1 ELSE sqrt({n2}) END)"


def _cos_sql(a: str, b: str) -> str:
    return f"{_dot_sql(a, b)} / ({_norm_denom_sql(a)} * {_norm_denom_sql(b)})"


@query(
    "q80_ivf_assign",
    # IVF cluster assignment with deterministic seed centroids (the 8
    # lowest-id vectors). Spark folds the centroids in as literal arrays
    # (zero-shuffle map-side argmax); the oracle derives the identical
    # centroids relationally. Ties break to the lowest centroid id.
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cvec')} AS sim
      FROM embeddings e CROSS JOIN cent c)
    SELECT vec_id, CAST(cid AS INT) AS centroid_id
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
    """,
)
def q80_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=8)
    return sim.ivf_assign(emb, cents).select("vec_id", "centroid_id")


@query(
    "q81_ivf_topk",
    # IVF top-k with nprobe=2: per query, rank only the corpus rows
    # assigned to its 2 nearest clusters. Probe ties break to the HIGHER
    # centroid id (array_sort-then-reverse on the Spark side).
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cvec')} AS sim
        FROM embeddings e CROSS JOIN cent c)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
    qp AS (
      SELECT q.vec_id AS query_id, c.cid FROM (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
      CROSS JOIN cent c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cid DESC) <= 2),
    scored AS (
      SELECT qp.query_id, a.vec_id,
             ROUND({_cos_sql('qe.embedding', 'e.embedding')}, 6) AS sim
      FROM qp
      JOIN assign a ON a.cid = qp.cid AND a.vec_id <> qp.query_id
      JOIN embeddings qe ON qe.vec_id = qp.query_id
      JOIN embeddings e ON e.vec_id = a.vec_id)
    SELECT query_id, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def q81_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=8)
    queries_df = emb.filter(F.col("vec_id") < 5)
    return sim.ivf_topk(emb, queries_df, cents, k=3, nprobe=2).select(
        "query_id", "vec_id", "sim", F.col("rank").cast("int").alias("rank")
    )


@query(
    "q92_ann_topk_lsh",
    # LSH-bucketed approximate top-k (the scale path q49 is the exact
    # baseline for): candidates = same hyperplane-sketch bucket only
    oracle=f"""
    WITH bk AS (
      SELECT vec_id, embedding, CAST({_lsh_bucket_sql(8, 0)} AS BIGINT) AS bucket
      FROM embeddings),
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 5)
    SELECT query_id, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def q92_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return sim.topk_lsh(emb, queries_df, k=3, n_bits=8, dim=64, seed=0).select(
        "query_id", "vec_id", "sim", F.col("rank").cast("int").alias("rank")
    )


@query(
    "q51_lsh_buckets",
    oracle=f"""
    SELECT vec_id, CAST({_lsh_bucket_sql(8, 0)} AS BIGINT) AS bucket FROM embeddings
    """,
)
def q51_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.lsh_hyperplane_buckets(emb, n_bits=8, dim=64, seed=0)


# --------------------------------------------------------------------- #
# Events: windows, sessionization, dedup, JSON props
# --------------------------------------------------------------------- #
@query(
    "q52_events_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q52_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.tumbling_agg(events, width="1 hour")


@query(
    "q56_events_sliding",
    # 1-hour windows sliding by 30 min: every event belongs to exactly 2
    # windows (width/slide), whose starts are (floor(epoch/1800) - k)*1800
    oracle="""
    SELECT CAST(to_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) - k) * 1800) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events, UNNEST(generate_series(0, 1)) AS t(k)
    GROUP BY 1, 2
    """,
)
def q56_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.sliding_agg(events, width="1 hour", slide="30 minutes")


@query(
    "q53_sessionization",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessioned AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS duration_sec,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessioned GROUP BY user_id, session_id
    """,
)
def q53_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.session_stats(events, gap_minutes=30)


@query(
    "q54_latest_event_dedup",
    oracle="""
    SELECT user_id, event_type, event_id, value FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q54_latest_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.latest_event_dedup(events).select("user_id", "event_type", "event_id", "value")


@query(
    "q55_props_extract",
    oracle="""
    SELECT event_type,
           -- TRY_CAST + NULLIF mirror the engine's try_cast +
           -- get_json_object: malformed (emoji/non-numeric) fields and
           -- empty-string props read NULL, not an error
           CAST(SUM(TRY_CAST(json_extract_string(NULLIF(props, ''), '$.k') AS INT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q55_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return (
        ev.extract_props(events, field="k")
        .groupBy("event_type")
        .agg(F.sum("prop_k").cast("bigint").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "q89_stream_tumbling",
    # the STREAMING twin of q52, drained with trigger=availableNow into a
    # memory sink: the single-file fixture arrives in one micro-batch, so
    # the watermark drops nothing and the streaming result equals the
    # batch aggregate exactly — checked against the identical oracle.
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q89_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.streaming.ops import (
        run_to_memory,
        stream_events,
        tumbling_agg_stream,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(tumbling_agg_stream(src, width="1 hour"))


@query(
    "q93_stream_sliding",
    # streaming twin of q56 (1-hour windows sliding by 30 min), drained
    # with availableNow — single micro-batch, watermark drops nothing,
    # equals the batch sliding aggregate exactly
    oracle="""
    SELECT CAST(to_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) - k) * 1800) AS TIMESTAMP) AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events, UNNEST(generate_series(0, 1)) AS t(k)
    GROUP BY 1, 2
    """,
)
def q93_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.streaming.ops import (
        run_to_memory,
        sliding_agg_stream,
        stream_events,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(sliding_agg_stream(src, width="1 hour", slide="30 minutes"))


@query(
    "q96_stream_session_window",
    # native session_window streaming sessionization vs a gaps-and-islands
    # batch oracle. Boundary semantics differ from batch q53: an event at
    # EXACTLY start+gap does not overlap the open window, so the oracle
    # breaks sessions on diff >= gap (q53's ordinal form uses > gap).
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessioned AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id, COUNT(*) AS n_events,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS duration_sec,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sessioned GROUP BY user_id, sid
    """,
)
def q96_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.streaming.ops import (
        run_to_memory,
        session_agg_stream,
        stream_events,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(session_agg_stream(src, gap_minutes=30))


@query(
    "q97_stream_dedup",
    # streaming dedup by (user_id, event_type): WHICH row survives
    # depends on arrival order (nondeterministic across partitions), but
    # the surviving KEY SET is exactly the distinct keys — project only
    # the keys so the check is deterministic
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q97_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.streaming.ops import (
        latest_dedup_stream,
        run_to_memory,
        stream_events,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    out = run_to_memory(latest_dedup_stream(src, key_cols=("user_id", "event_type")))
    return out.select("user_id", "event_type")


@query(
    "q95_stream_stateful_sessions",
    # The sessionizer emits CLOSED sessions only; each user's open tail
    # stays in state, never emitted. Over a bounded single-micro-batch
    # drain (one fixture file + availableNow) the emitted multiset is
    # therefore EXACTLY the batch gaps-and-islands sessions (break on
    # diff > gap, the operator's strict-gap rule) minus each user's
    # LAST session — fully SQL-expressible, so the custom stateful op is
    # hash-checked end to end, not rows-only. Timestamps go through
    # make_timestamp(epoch_us(...)) to mirror the operator's ns→µs
    # truncation; sums are rounded at 6 decimals on both sides because
    # the operator accumulates float64 in ts order while the oracle sums
    # exact decimals (the true values carry <= 3 decimals, so round(6)
    # is loss-free and order-independent). SUM semantics for NULL
    # values match SQL: NULLs contribute nothing, all-NULL -> NULL.
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessioned AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged),
    sess AS (
      SELECT user_id,
             make_timestamp(MIN(epoch_us(ts))) AS session_start,
             make_timestamp(MAX(epoch_us(ts))) AS session_end,
             COUNT(*) AS n_events,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value
      FROM sessioned GROUP BY user_id, sid)
    SELECT user_id, session_start, session_end, n_events, sum_value
    FROM sess
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY session_start DESC) > 1
    """,
)
def q95_stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming op (applyInPandasWithState): per-user
    open-session state across micro-batches, emitting a session the
    moment its closing event arrives; the still-open tail per user stays
    in state. See the oracle comment for why the bounded drain makes the
    emitted set deterministic and batch-SQL-checkable."""
    from dabstract_spark.streaming.ops import (
        run_to_memory,
        stateful_sessionizer,
        stream_events,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    # the oracle's "batch sessions minus each user's last" identity
    # holds only for a one-micro-batch drain (the sessionizer sorts
    # within a batch) — enforced, not assumed
    out = run_to_memory(
        stateful_sessionizer(src, gap_minutes=30), require_single_batch=True
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )


# --------------------------------------------------------------------- #
# Dedup completion: candidate pairs -> duplicate clusters
# --------------------------------------------------------------------- #
@query(
    "q84_dedup_clusters",
    # connected components over the q46 candidate-pair graph: Spark runs
    # iterative min-label propagation (one shuffle join per round,
    # localCheckpoint-truncated lineage); the oracle computes the same
    # fixpoint as a recursive CTE (min reachable id per node). Singleton
    # docs keep their own id as cluster_id.
    oracle=f"""
    WITH RECURSIVE
         tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM capped a JOIN capped b USING (band_id, band_hash)
           WHERE a.doc_id < b.doc_id),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT doc_id AS id, doc_id AS comp FROM documents
           UNION
           SELECT e.dst AS id, r.comp
           FROM reach r JOIN edges e ON e.src = r.id)
    SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id
    """,
)
def q84_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_dedup_clusters(
        docs, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    )


@query(
    "q85_sample_per_group",
    # balanced per-class sampling: at most 50 pseudo-random docs per lang,
    # ranked by the shared md5 ordering so both engines pick identical rows
    oracle="""
    SELECT doc_id, lang FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY lang ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 50
    """,
)
def q85_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import sample_per_group

    docs = _t(spark, sf_dir, "documents")
    return sample_per_group(docs, "lang", n=50, seed=0, key="doc_id").select(
        "doc_id", "lang"
    )


@query(
    "q86_bpe_token_count",
    # LLM-budget token counting: whitespace tokens vs BPE-style pre-tokens
    # (GPT-2-shaped regex — contractions, letter runs, digit runs, single
    # symbols). '' escapes the quote inside the SQL literal.
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q86_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("n_ws_tokens"),
        tx.bpe_token_count("text").alias("n_bpe_tokens"),
    )


@query(
    "q87_repetition_score",
    # Gopher-style repetition signal: fraction of within-doc duplicate
    # 2-grams; NULL when no 2-gram exists. +0.0 normalizes IEEE -0.0.
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_shingles('text', 2)} AS s FROM documents)
    SELECT doc_id,
           CASE WHEN len(s) > 0
                THEN round(1.0 - len(list_distinct(s)) / len(s), 6) + 0.0
           END AS rep_score
    FROM sh
    """,
)
def q87_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return tx.repetition_score_df(docs, "doc_id", "text", k=2)


@query(
    "q88_tfdf_keywords",
    # top-3 keywords per doc by integer tf/df ppm ratio (floats would
    # rank differently across libm log implementations); ties break
    # alphabetically
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKENS.format(c='text')}) AS token FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
         docfreq AS (
           SELECT token, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token)
    SELECT doc_id, token,
           CAST(floor(tf * 1000000 / df) AS BIGINT) AS score_ppm,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY floor(tf * 1000000 / df) DESC, token) AS INT) AS rank
    FROM tf JOIN docfreq USING (token)
    QUALIFY rank <= 3
    """,
)
def q88_tfdf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return tx.tfdf_keywords(docs, "doc_id", "text", top_k=3)


# --------------------------------------------------------------------- #
# PII audit pass (training-data compliance): deterministic PII is salted
# into each document, then detected + redacted with portable regexes.
# Counts and the redacted-text md5 are both oracle-checked.
# --------------------------------------------------------------------- #
@query(
    "q99_pii_redaction",
    oracle=r"""
    WITH salted AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com'
                  || ' from 10.0.' || (doc_id % 256) || '.7'
                  || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END
                  || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567' ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
           md5(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
                   '\b\d{3}-\d{2}-\d{4}\b', '[PII]', 'g'),
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[PII]', 'g'),
               '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PII]', 'g')
           ) AS redacted_md5
    FROM salted
    """,
)
def q99_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-123-4567")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return tx.pii_stats_df(salted, "doc_id", "text")


# --------------------------------------------------------------------- #
# C4-style line-level cleanup: documents are reshaped into deterministic
# multi-line form (kept line / too-short line / no-terminal line / kept
# line) so every rule fires, then the audit table is oracle-checked.
# --------------------------------------------------------------------- #
@query(
    "q100_c4_line_filter",
    oracle=r"""
    WITH lined AS (
      -- list_filter + array_to_string mirrors Spark concat_ws, which
      -- SKIPS NULL parts (NULL-text docs still get the 2 literal lines)
      SELECT doc_id,
             array_to_string(list_filter(
               [substr(text, 1, 50) || '.',
                'too short.',
                substr(text, 51, 40),
                'keep this line too!'],
               x -> x IS NOT NULL), chr(10)) AS text
      FROM documents),
    kept AS (
      SELECT doc_id,
             len(string_split(text, chr(10))) AS n_lines,
             list_filter(string_split(text, chr(10)),
               ln -> len(list_filter(string_split_regex(trim(ln), '\s+'), w -> w != '')) >= 3
                     AND right(rtrim(ln), 1) IN ('.', '!', '?', '"', '''')) AS k
      FROM lined)
    SELECT doc_id, CAST(n_lines AS INT) AS n_lines, CAST(len(k) AS INT) AS n_kept,
           md5(array_to_string(k, chr(10))) AS cleaned_md5,
           len(k) >= 1 AS keep
    FROM kept
    """,
)
def q100_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.substring("text", 1, 50), F.lit(".")),
            F.lit("too short."),
            F.substring("text", 51, 40),
            F.lit("keep this line too!"),
        ).alias("text"),
    )
    return tx.c4_filter_df(lined, "doc_id", "text", min_words=3, min_lines=1)


# --------------------------------------------------------------------- #
# AS-OF join (custom operator Spark lacks; union-tag window formulation
# in events.asof_join) vs DuckDB's NATIVE ASOF JOIN as the oracle: each
# click is joined to the user's latest view at-or-before it.
# --------------------------------------------------------------------- #
@query(
    "q101_asof_join",
    oracle="""
    SELECT l.event_id, l.user_id, r.value AS value_asof
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def q101_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    views = events.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = ev.asof_join(clicks, views, on="user_id", ts_col="ts", right_cols=("value",))
    return out.select("event_id", "user_id", "value_asof")


# --------------------------------------------------------------------- #
# Range join (time-binned formulation in events.range_join) vs a plain
# inequality join in DuckDB: view events within ±30 min of each click.
# --------------------------------------------------------------------- #
@query(
    "q102_range_join",
    oracle="""
    SELECT l.event_id, r.event_id AS event_id_r, r.value AS value_r
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'view') r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts - INTERVAL 30 MINUTE
     AND r.ts <= l.ts + INTERVAL 30 MINUTE
    """,
)
def q102_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click")
    views = events.filter(F.col("event_type") == "view")
    out = ev.range_join(
        clicks, views, on="user_id", ts_col="ts",
        before_sec=1800, after_sec=1800, right_cols=("event_id", "value"),
    )
    return out.select("event_id", "event_id_r", "value_r")


# --------------------------------------------------------------------- #
# Hypertable-style multi-resolution rollup (events.multires_rollup):
# one explode + one shuffle emits the continuous aggregate at 15 min /
# 1 h / 1 d simultaneously.
# --------------------------------------------------------------------- #
@query(
    "q103_multires_rollup",
    oracle="""
    SELECT CAST(w AS INT) AS resolution_sec,
           CAST(to_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // w) * w) AS TIMESTAMP) AS bucket_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events, UNNEST([900, 3600, 86400]) AS t(w)
    GROUP BY 1, 2, 3
    """,
)
def q103_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.multires_rollup(
        events, ts_col="ts", value_col="value", group_cols=("event_type",),
        widths_sec=(900, 3600, 86400),
    )


# --------------------------------------------------------------------- #
# Embedding covariance matrix (whitening/PCA input) in the relational
# formulation: posexplode x self-join x groupBy(i, j) — linear in rows.
# Decimal sums of 6-decimal-rounded values make the cross-row float
# reduction order-independent, so both engines agree exactly.
# --------------------------------------------------------------------- #
@query(
    "q105_embedding_covariance",
    oracle="""
    WITH x AS (
      SELECT vec_id, CAST(j - 1 AS INT) AS i,
             CAST(CAST(round(embedding[j]::DOUBLE, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xi
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(j))
    SELECT a.i, b.i AS j,
           round((CAST(SUM(a.xi * b.xi) AS DOUBLE) / 1e12
                  - (CAST(SUM(a.xi) AS DOUBLE) / 1e6) * (CAST(SUM(b.xi) AS DOUBLE) / 1e6) / COUNT(*))
                 / COUNT(*), 6) + 0.0 AS cov
    FROM x a JOIN x b ON a.vec_id = b.vec_id
    GROUP BY a.i, b.i
    """,
)
def q105_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.embedding_covariance(emb)


# --------------------------------------------------------------------- #
# Multi-probe LSH top-k: own bucket + all Hamming-distance-1 buckets
# (the standard sign-LSH recall recovery). The probe expansion happens
# on the tiny query side only.
# --------------------------------------------------------------------- #
@query(
    "q106_ann_topk_multiprobe",
    oracle=f"""
    WITH bk AS (
      SELECT vec_id, embedding, CAST({_lsh_bucket_sql(8, 0)} AS BIGINT) AS b0
      FROM embeddings),
    qp AS (
      SELECT vec_id AS query_id, embedding AS qe,
             CASE WHEN p = 0 THEN b0 ELSE xor(b0, CAST(1 << (p - 1) AS BIGINT)) END AS bucket
      FROM bk, UNNEST(generate_series(0, 8)) AS t(p)
      WHERE vec_id < 5),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id, q.qe, c.embedding AS ce
      FROM qp q JOIN bk c ON c.b0 = q.bucket AND q.query_id <> c.vec_id),
    scored AS (
      SELECT query_id, vec_id,
             ROUND(list_sum(list_transform(generate_series(1, 64), j -> (qe[j])::DOUBLE * (ce[j])::DOUBLE))
                   / ((CASE WHEN list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE)) = 0 THEN 1
                       ELSE sqrt(list_sum(list_transform(qe, x -> x::DOUBLE * x::DOUBLE))) END)
                      * (CASE WHEN list_sum(list_transform(ce, x -> x::DOUBLE * x::DOUBLE)) = 0 THEN 1
                         ELSE sqrt(list_sum(list_transform(ce, x -> x::DOUBLE * x::DOUBLE))) END)), 6) AS sim
      FROM cand)
    SELECT query_id, vec_id, sim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 3
    """,
)
def q106_ann_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return sim.topk_lsh_multiprobe(emb, queries_df, k=3, n_bits=8, dim=64, seed=0).select(
        "query_id", "vec_id", "sim", F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------- #
# Exact grouped percentiles (§2.4 depth): Spark `percentile` and DuckDB
# `quantile_cont` both use linear interpolation on the sorted set.
# --------------------------------------------------------------------- #
@query(
    "q107_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q107_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # one percentile(col, array(...)) call: a single sort buffer per
    # group instead of three
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias("__p"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("__p", 1), 4).alias("p50"),
            F.round(F.element_at("__p", 2), 4).alias("p95"),
            F.round(F.element_at("__p", 3), 4).alias("p99"),
            "n",
        )
    )


# --------------------------------------------------------------------- #
# Deterministic corpus mixture (select.weighted_mix): three sub-corpora
# carved from documents by source prefix, mixed at 100% / 30% / 5% —
# the domain-reweighting pass of a training-data pipeline. No shuffle:
# per-source Bernoulli filters + union, scan-fused.
# --------------------------------------------------------------------- #
@query(
    "q108_weighted_mix",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, source,
             CASE WHEN source IN ('src0','src1','src2') THEN 'head'
                  WHEN source IN ('src3','src4','src5') THEN 'mid'
                  ELSE 'tail' END AS corpus
      FROM documents)
    SELECT doc_id, source, corpus AS source_name FROM tagged
    WHERE corpus = 'head'
       OR (corpus = 'mid'
           AND CAST(('0x' || substr(md5('9:mid/' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 < 0.3)
       OR (corpus = 'tail'
           AND CAST(('0x' || substr(md5('9:tail/' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 < 0.05)
    """,
)
def q108_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import weighted_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    head = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    mid = docs.filter(F.col("source").isin("src3", "src4", "src5"))
    # isNull leg: NOT (NULL IN ...) is NULL and would silently drop
    # NULL-source docs from every corpus — 'tail' is the ELSE bucket
    tail = docs.filter(
        F.col("source").isNull()
        | ~F.col("source").isin("src0", "src1", "src2", "src3", "src4", "src5")
    )
    return weighted_mix(
        {"head": head, "mid": mid, "tail": tail},
        {"head": 1.0, "mid": 0.3, "tail": 0.05},
        key="doc_id",
        seed=9,
    )


# --------------------------------------------------------------------- #
# Streaming -> parquet sink (exactly-once file sink + checkpoint WAL),
# re-read and oracle-checked against the same batch SQL as q89: proves
# the production sink path end-to-end, not just the memory test sink.
# --------------------------------------------------------------------- #
@query(
    "q109_stream_parquet_sink",
    # append mode emits only CLOSED windows: a window [h, h+1) closes
    # when the final watermark (= max event time at drain end) passes
    # h+1 — so the trailing partial hour stays open and is absent from
    # the sink. The oracle mirrors that boundary exactly.
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
    """,
)
def q109_stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import (
        run_to_parquet,
        stream_events,
        tumbling_agg_stream,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    # short watermark so every window is closed (and therefore APPENDED
    # to the file sink) once the backlog drains
    agg = tumbling_agg_stream(src, width="1 hour", watermark="0 seconds")
    tmp = scratch_dir("sparkdab_sink_")
    return run_to_parquet(agg, f"{tmp}/out", f"{tmp}/ckpt")


# --------------------------------------------------------------------- #
# Incremental dedup against an existing corpus (dedup.dedup_against):
# a "new crawl" of exact duplicates + genuinely fresh docs anti-joined
# against the seen corpus — only the fresh docs survive.
# --------------------------------------------------------------------- #
@query(
    "q110_dedup_against_corpus",
    oracle=f"""
    WITH new_batch AS (
      SELECT doc_id + 10000 AS doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 20000 AS doc_id,
             text || ' uniq' || CAST(doc_id AS VARCHAR) AS text
      FROM documents),
    seen AS (
      SELECT DISTINCT md5({_NORM.format(c='text')}) AS h FROM documents)
    SELECT n.doc_id, md5(n.text) AS content_md5
    FROM new_batch n
    -- NOT EXISTS, never NOT IN: a NULL digest in `seen` (NULL-text
    -- doc) makes NOT IN never-true (0 rows); the engine's anti-join
    -- keeps NULL-digest rows
    WHERE NOT EXISTS (
      SELECT 1 FROM seen
      WHERE seen.h = md5({_NORM.format(c='text').replace('text', 'n.text')}))
    """,
)
def q110_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    fresh = docs.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" uniq"), F.col("doc_id").cast("string")).alias("text"),
    )
    out = dd.dedup_against(dup.unionByName(fresh), docs, "doc_id", "text")
    return out.select("doc_id", F.md5("text").alias("content_md5"))


# --------------------------------------------------------------------- #
# END-TO-END training-data pipeline in ONE Catalyst plan: language
# filter -> exact dedup -> deterministic downmix -> token accounting.
# Every stage is an operator the catalog checks in isolation; this
# query proves they COMPOSE (one plan, no materialization barriers).
# --------------------------------------------------------------------- #
@query(
    "q111_training_pipeline",
    oracle=f"""
    WITH langed AS (
      SELECT doc_id, text,
             CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                  WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                  WHEN {_SCORE['dt']} > 0 THEN 'dt'
                  ELSE 'und' END AS lang_pred
      FROM documents),
    kept AS (SELECT * FROM langed WHERE lang_pred IN ('qy', 'en')),
    deduped AS (
      SELECT * FROM kept
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY COALESCE(md5({_NORM.format(c='text')}), 'null:' || CAST(doc_id AS VARCHAR))
        ORDER BY doc_id) = 1),
    mixed AS (
      SELECT * FROM deduped
      WHERE CAST(('0x' || substr(md5('5:mix/' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 < 0.6)
    SELECT doc_id, lang_pred,
           CAST(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
           CAST(('0x' || substr(md5({_NORM.format(c='text')}), 1, 15)) AS BIGINT) AS fingerprint
    FROM mixed
    """,
)
def q111_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.functions.hashing import md5_unit

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    langed = docs.withColumn("lang_pred", tx.lang_id("text"))
    kept = langed.filter(F.col("lang_pred").isin("qy", "en"))
    deduped = dd.exact_dedup(kept, "doc_id", "text")
    mixed = deduped.filter(
        md5_unit(F.concat(F.lit("mix/"), F.col("doc_id").cast("string")), 5) < 0.6
    )
    return mixed.select(
        "doc_id",
        "lang_pred",
        tx.bpe_token_count("text").alias("n_tokens"),
        tx.fingerprint("text").alias("fingerprint"),
    )


# --------------------------------------------------------------------- #
# Fixed-width histogram (§2.4 depth): width_bucket on both engines;
# per-bucket count + sum — the profiling pass before partition-range
# planning at scale.
# --------------------------------------------------------------------- #
@query(
    "q112_histogram",
    # identical explicit bucket arithmetic on BOTH engines (DuckDB has
    # no width_bucket; same IEEE expression -> same bucket edges)
    oracle="""
    SELECT CASE WHEN l_extendedprice < 900.0 THEN 0
                WHEN l_extendedprice >= 105000.0 THEN 21
                ELSE CAST(floor((l_extendedprice - 900.0) * 20 / (105000.0 - 900.0)) AS BIGINT) + 1
           END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem GROUP BY 1
    """,
)
def q112_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.expr(
            "CASE WHEN l_extendedprice < 900.0 THEN 0 "
            "WHEN l_extendedprice >= 105000.0 THEN 21 "
            "ELSE CAST(floor((l_extendedprice - 900.0) * 20 / (105000.0 - 900.0)) AS BIGINT) + 1 END"
        ).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------- #
# Train/test contamination audit (dedup.contamination_check): shingle
# overlap between a deterministic 80/20 split of the corpus. The train
# side collapses to its distinct shingle set; the test side left-joins
# it — hash join on the shingle key, never doc x doc.
# --------------------------------------------------------------------- #
@query(
    "q113_contamination",
    oracle=f"""
    WITH split AS (
      SELECT doc_id, text,
             CAST(('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 < 0.8 AS is_train
      FROM documents),
    test_sh AS (
      SELECT doc_id AS id, unnest(list_distinct({_shingles('text', 3)})) AS sh
      FROM split WHERE NOT is_train),
    train_set AS (
      SELECT DISTINCT unnest(list_distinct({_shingles('text', 3)})) AS sh
      FROM split WHERE is_train)
    SELECT t.id AS doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           ROUND(SUM(CASE WHEN tr.sh IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*), 6)
             AS overlap_frac
    FROM test_sh t LEFT JOIN train_set tr USING (sh)
    GROUP BY t.id
    """,
)
def q113_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.functions.hashing import md5_unit

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    is_train = md5_unit(F.col("doc_id"), 7) < 0.8
    out = dd.contamination_check(
        docs.filter(is_train), docs.filter(~is_train), "doc_id", "text", k=3
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_shingles", "n_overlap", "overlap_frac"
    )


# --------------------------------------------------------------------- #
# Sequence packing (packing.sequence_pack): concat-and-chunk documents
# into 2048-token context windows. The global prefix sum underneath is
# the block-wise distributed one (operators/packing.py) — the oracle's
# single ORDER BY window is exactly the plan shape the operator exists
# to avoid at scale.
# --------------------------------------------------------------------- #
@query(
    "q114_sequence_pack",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cend
      FROM toks)
    SELECT doc_id, n_tokens, cend - n_tokens AS start_offset,
           CAST(floor((cend - n_tokens) / 2048.0) AS BIGINT) AS first_chunk,
           CASE WHEN n_tokens > 0 THEN CAST(floor((cend - 1) / 2048.0) AS BIGINT)
                ELSE CAST(floor((cend - n_tokens) / 2048.0) AS BIGINT) END AS last_chunk,
           CASE WHEN n_tokens > 0 THEN CAST(floor((cend - 1) / 2048.0) AS BIGINT)
                ELSE CAST(floor((cend - n_tokens) / 2048.0) AS BIGINT) END
             - CAST(floor((cend - n_tokens) / 2048.0) AS BIGINT) + 1 AS n_chunks
    FROM c
    """,
)
def q114_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.packing import sequence_pack

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # small block_size so even sf0.001 exercises the multi-block path
    out = sequence_pack(
        docs.withColumn("__tok", tx.bpe_token_count("text")),
        "doc_id",
        "__tok",
        capacity=2048,
        block_size=64,
    )
    return out.select(
        "doc_id", "n_tokens", "start_offset", "first_chunk", "last_chunk", "n_chunks"
    )


# --------------------------------------------------------------------- #
# Stream-stream interval join (streaming/ops.interval_join_stream):
# click -> purchase attribution within 5 minutes, same user. The batch
# oracle is the identical self-join; with an availableNow drain the
# single-file fixture arrives in one micro-batch so no state is evicted
# early and the streaming result equals the batch join exactly.
# --------------------------------------------------------------------- #
@query(
    "q115_stream_interval_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id AS user_id
    FROM events a JOIN events b ON a.user_id = b.user_id
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
      AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def q115_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.streaming.ops import (
        interval_join_stream,
        run_to_memory,
        stream_events,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    clicks = src.filter(F.col("event_type") == "click")
    purchases = src.filter(F.col("event_type") == "purchase")
    joined = interval_join_stream(
        clicks, purchases, key="user_id", ts_col="ts", within="5 minutes"
    )
    return run_to_memory(
        joined.select(
            F.col("__l_event_id").alias("click_id"),
            F.col("__r_event_id").alias("purchase_id"),
            F.col("__l_user_id").alias("user_id"),
        )
    )


# --------------------------------------------------------------------- #
# Grouped top-k (select.top_k_per_group): best-5 documents per predicted
# language by quality score — the per-domain curriculum/selection pass.
# --------------------------------------------------------------------- #
@query(
    "q116_grouped_topk",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                  WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                  WHEN {_SCORE['dt']} > 0 THEN 'dt'
                  ELSE 'und' END AS lang_pred,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10)
             / 1000000.0::DOUBLE AS quality
      FROM documents)
    SELECT doc_id, lang_pred, quality FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY lang_pred ORDER BY quality DESC, doc_id) <= 5
    """,
)
def q116_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import top_k_per_group

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        tx.lang_id("text").alias("lang_pred"),
        tx.quality_score("text").alias("quality"),
    )
    return top_k_per_group(
        scored, ["lang_pred"], [F.desc("quality"), F.asc("doc_id")], k=5
    )


# --------------------------------------------------------------------- #
# Canonical-document selection: near-dup clusters (q84's pipeline) x
# quality scoring (q43's) x grouped top-1 (q116's operator) composed in
# ONE plan — dedup that KEEPS the best-quality copy instead of the
# lowest id, i.e. the production dedup policy for a training corpus.
# --------------------------------------------------------------------- #
@query(
    "q117_canonical_docs",
    oracle=f"""
    WITH RECURSIVE
         tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM capped a JOIN capped b USING (band_id, band_hash)
           WHERE a.doc_id < b.doc_id),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT doc_id AS id, doc_id AS comp FROM documents
           UNION
           SELECT e.dst AS id, r.comp
           FROM reach r JOIN edges e ON e.src = r.id),
         clusters AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
         scored AS (
           SELECT c.cluster_id, d.doc_id,
                  ((5 * least(length(text)::BIGINT * 2500, 1000000)
                    + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                                 // greatest(len({_T}), 1)) * 5, 1000000)
                    + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                                 // greatest(length(text), 1)) * 10, 1000000))) // 10)
                  / 1000000.0::DOUBLE AS quality
           FROM documents d JOIN clusters c USING (doc_id))
    SELECT cluster_id, doc_id AS canonical_id, quality FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) = 1
    """,
)
def q117_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clusters = dd.minhash_dedup_clusters(
        docs, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    )
    scored = clusters.join(
        docs.select("doc_id", tx.quality_score("text").alias("quality")), "doc_id"
    )
    # top-1 per cluster as ONE hash aggregate (r13, guide §2.3/§2.4; see
    # q221): max_by over struct(quality, -doc_id) == row_number()=1 under
    # [quality DESC, doc_id ASC] — one Exchange with map-side partial
    # aggregation replaces the two-window Exchange+Sort pair.
    return scored.groupBy("cluster_id").agg(
        F.expr(
            "max_by(struct(doc_id AS canonical_id, quality),"
            " struct(quality, -doc_id)) AS __top"
        )
    ).select("cluster_id", "__top.canonical_id", "__top.quality")


# --------------------------------------------------------------------- #
# Deterministic NB quality classifier (text.nb_token_weights/nb_score):
# the CCNet/fastText-style "train a weak classifier, score the corpus"
# stage, expressed fully relationally. Weak label = predicted-'en'.
# Token weights are exact-integer-count log-odds; doc scores are summed
# as floor-quantized micro-unit bigints so the result is independent of
# float accumulation order (and hence engine-reproducible).
# --------------------------------------------------------------------- #
_EN_CASE = (
    f"CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy' "
    f"WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en' "
    f"WHEN {_SCORE['dt']} > 0 THEN 'dt' ELSE 'und' END"
)


@query(
    "q118_nb_classifier",
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id, text,
             CASE WHEN {_EN_CASE} = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    tok AS (SELECT y, unnest({_TOKENS.format(c='text')}) AS token FROM labeled),
    counts AS (
      SELECT token, CAST(SUM(y) AS BIGINT) AS p, CAST(SUM(1 - y) AS BIGINT) AS n
      FROM tok GROUP BY token),
    tot AS (
      SELECT CAST(SUM(y) AS BIGINT) AS tp, CAST(SUM(1 - y) AS BIGINT) AS tn,
             COUNT(DISTINCT token) AS v
      FROM tok),
    w AS (
      SELECT token,
             ln((p + 1) / (tp + v)) - ln((n + 1) / (tn + v)) AS w
      FROM counts, tot),
    dtok AS (SELECT doc_id AS id, unnest({_TOKENS.format(c='text')}) AS token
             FROM documents)
    SELECT id AS doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(CAST(floor(COALESCE(w, 0) * 1000000) AS BIGINT)) AS BIGINT)
             / 1000000.0 AS score
    FROM dtok LEFT JOIN w USING (token)
    GROUP BY id
    """,
)
def q118_nb_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = docs.withColumn("y", (tx.lang_id("text") == "en").cast("int"))
    weights = tx.nb_token_weights(labeled, "y", "text")
    out = tx.nb_score(docs, weights, "doc_id", "text", quantize=6)
    return out.select(F.col("id").alias("doc_id"), "n_tokens", "score")


# --------------------------------------------------------------------- #
# Pivot / crosstab (§2.4 depth): predicted language x quality-decile
# contingency matrix. Spark's groupBy().pivot() compiles to conditional
# aggregation — the oracle spells the same conditional aggregate.
# --------------------------------------------------------------------- #
@query(
    "q119_pivot_matrix",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                  WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                  WHEN {_SCORE['dt']} > 0 THEN 'dt'
                  ELSE 'und' END AS lang_pred,
             least(CAST(floor(((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10)
             / 100000) AS BIGINT), 9) AS decile
      FROM documents)
    SELECT lang_pred,
           CAST(SUM(CASE WHEN decile <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS low,
           CAST(SUM(CASE WHEN decile BETWEEN 4 AND 6 THEN 1 ELSE 0 END) AS BIGINT) AS mid,
           CAST(SUM(CASE WHEN decile >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS high
    FROM scored GROUP BY lang_pred
    """,
)
def q119_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        tx.lang_id("text").alias("lang_pred"),
        F.least(
            F.floor(tx.quality_score("text") * 10).cast("bigint"), F.lit(9).cast("bigint")
        ).alias("decile"),
    )
    bucket = (
        F.when(F.col("decile") <= 3, "low")
        .when(F.col("decile") <= 6, "mid")
        .otherwise("high")
    )
    return (
        scored.withColumn("bucket", bucket)
        .groupBy("lang_pred")
        .pivot("bucket", ["low", "mid", "high"])
        .count()
        .fillna(0, ["low", "mid", "high"])
    )


# --------------------------------------------------------------------- #
# Per-user event history features (§2.5 depth): lag/lead deltas — the
# feature-engineering window pass (time since previous event, time to
# next, value delta) every behavioral model consumes.
# --------------------------------------------------------------------- #
@query(
    "q120_event_lag_features",
    oracle="""
    SELECT event_id, user_id,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER w) // 1000000 AS sec_since_prev,
           (lead(epoch_us(ts)) OVER w - epoch_us(ts)) // 1000000 AS sec_to_next,
           CAST(ROUND(value - lag(value) OVER w, 6) AS DOUBLE) AS value_delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q120_event_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dabstract_spark.operators.events import _epoch_us

    ev_df = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(_epoch_us("ts"), F.col("event_id"))
    us = _epoch_us("ts")
    return ev_df.select(
        "event_id",
        "user_id",
        ((us - F.lag(us).over(w)) / F.lit(1_000_000)).cast("bigint").alias("sec_since_prev"),
        ((F.lead(us).over(w) - us) / F.lit(1_000_000)).cast("bigint").alias("sec_to_next"),
        F.round(F.col("value") - F.lag("value").over(w), 6).cast("double").alias("value_delta"),
    )


# --------------------------------------------------------------------- #
# Training-example assembly (sequence dataset construction): per user,
# the chronological event history as one delimited string — the
# "assemble behavior sequences" pass before sequence-model training.
# Events are formatted with INTEGER floor(value*100) units (float→string
# formatting differs between engines; floor of identical doubles does
# not) and ordered by (ts, event_id) so ties are deterministic. The
# per-user collect_list is bounded by per-user history length — the same
# per-key contract as the sessionizers, not a global collect.
# --------------------------------------------------------------------- #
@query(
    "q121_user_histories",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 1000000 AS span_sec,
           STRING_AGG(
             event_type || ':' || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR),
             '|' ORDER BY ts, event_id) AS history
    FROM events GROUP BY user_id
    """,
)
def q121_user_histories(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.events import _epoch_us

    ev_df = _t(spark, sf_dir, "events")
    us = _epoch_us("ts")
    tok = F.concat(
        F.col("event_type"),
        F.lit(":"),
        F.floor(F.col("value") * 100).cast("bigint").cast("string"),
    )
    return (
        ev_df.select(
            "user_id",
            us.alias("__o1"),
            F.col("event_id").alias("__o2"),
            tok.alias("__s"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ((F.max("__o1") - F.min("__o1")) / F.lit(1_000_000))
            .cast("bigint")
            .alias("span_sec"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__o1", "__o2", "__s"))),
                    lambda x: x["__s"],
                ),
                "|",
            ).alias("history"),
        )
    )


# --------------------------------------------------------------------- #
# Stream-static dimension enrichment (§2.12): the event stream joined to
# the static customer dimension AT INGEST (broadcast hash join per
# micro-batch — no state, the standard enrichment topology), then a
# streaming aggregate per (segment, event_type). Batch SQL is the exact
# oracle since the bounded drain sees every event.
# --------------------------------------------------------------------- #
@query(
    "q123_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def q123_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.session import load_table
    from dabstract_spark.streaming.ops import run_to_memory, stream_events

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        src.join(F.broadcast(cust), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    return run_to_memory(agg)


# --------------------------------------------------------------------- #
# Data-quality constraint suite (quality.validate): the Deequ-style
# pre-promotion audit — every metric is an aggregate expression and the
# WHOLE suite runs in ONE scan/Aggregate node, so a 50-constraint suite
# over 100 TB pays the scan once. Output is the tiny report table.
# --------------------------------------------------------------------- #
@query(
    "q127_data_quality",
    oracle="""
    WITH m AS (
      SELECT CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) * 1000000
                  / COUNT(*) AS BIGINT) AS null_custkey_ppm,
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_orderkeys,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nonpositive_prices,
             CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
               AS BIGINT) AS bad_status
      FROM orders)
    SELECT r."check" AS "check", r.value, r.passed FROM m, LATERAL (VALUES
      ('null_custkey_ppm', null_custkey_ppm, null_custkey_ppm <= 1000),
      ('dup_orderkeys', dup_orderkeys, dup_orderkeys = 0),
      ('nonpositive_prices', nonpositive_prices, nonpositive_prices = 0),
      ('bad_status', bad_status, bad_status = 0)
    ) AS r("check", value, passed)
    """,
)
def q127_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.quality import null_rate_ppm, validate

    orders = _t(spark, sf_dir, "orders")
    dup = F.count(F.lit(1)) - F.countDistinct("o_orderkey")
    nonpos = F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
    bad = F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0))
    checks = [
        ("null_custkey_ppm", null_rate_ppm("o_custkey"), null_rate_ppm("o_custkey") <= 1000),
        ("dup_orderkeys", dup, dup == 0),
        ("nonpositive_prices", nonpos, nonpos == 0),
        ("bad_status", bad, bad == 0),
    ]
    return validate(orders, checks)


# --------------------------------------------------------------------- #
# Snapshot diff (quality.snapshot_diff): CDC-style added/removed/changed
# classification between two keyed snapshots in one full outer join —
# the "what changed since the last run" primitive. The new snapshot is
# derived deterministically from orders (drop keys ending in 7, add
# shifted copies, bump some prices).
# --------------------------------------------------------------------- #
@query(
    "q128_snapshot_diff",
    oracle="""
    WITH newsnap AS (
      SELECT o_orderkey, o_totalprice * CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END
               AS o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 <> 7
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 3),
    o AS (SELECT o_orderkey, o_totalprice, o_orderstatus, 1 AS in_o FROM orders),
    n AS (SELECT o_orderkey, o_totalprice, o_orderstatus, 1 AS in_n FROM newsnap)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.in_o IS NULL THEN 'added'
                WHEN n.in_n IS NULL THEN 'removed'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                     OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus THEN 'changed'
                ELSE 'unchanged' END AS change
    FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    """,
)
def q128_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.quality import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 10 != 7).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            * F.when(F.col("o_orderkey") % 5 == 0, 2).otherwise(1)
        ).alias("o_totalprice"),
        "o_orderstatus",
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 10 == 3).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_totalprice",
            "o_orderstatus",
        )
    )
    return snapshot_diff(orders, new, "o_orderkey", ["o_totalprice", "o_orderstatus"])


# --------------------------------------------------------------------- #
# Paragraph-level exact dedup (dedup.paragraph_dedup): the RefinedWeb /
# MassiveText line-dedup step. Documents are reshaped into deterministic
# 4-paragraph form with cross-document duplicates (a corpus-wide shared
# boilerplate paragraph and a footer shared per doc_id % 7 group) so the
# keep-first-occurrence rule fires on real duplicates.
# --------------------------------------------------------------------- #
@query(
    "q129_paragraph_dedup",
    oracle="""
    WITH lined AS (
      -- list_filter(.., NOT NULL) mirrors Spark concat_ws, which SKIPS
      -- NULL parts (a NULL-text doc contributes 2 paragraphs, not 4)
      SELECT doc_id,
             list_filter(
               [substr(text, 1, 60),
                'shared boilerplate: subscribe to our newsletter.',
                substr(text, 61, 50),
                'footer id ' || CAST(doc_id % 7 AS VARCHAR)],
               x -> x IS NOT NULL) AS ps
      FROM documents),
    paras AS (
      SELECT doc_id, i - 1 AS pos, ps[i] AS para, md5(ps[i]) AS h
      FROM lined, UNNEST(generate_series(1, len(ps))) AS t(i)),
    flagged AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1 AS kept
      FROM paras)
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_paras,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS INT) AS n_kept,
           md5(coalesce(
             array_to_string(list(para ORDER BY pos) FILTER (WHERE kept),
                             chr(10) || chr(10)), '')) AS cleaned_md5
    FROM flagged
    GROUP BY doc_id
    """,
)
def q129_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.substring("text", 1, 60),
            F.lit("shared boilerplate: subscribe to our newsletter."),
            F.substring("text", 61, 50),
            F.concat(F.lit("footer id "), (F.col("doc_id") % 7).cast("string")),
        ).alias("text"),
    )
    return dd.paragraph_dedup(lined, id_col="doc_id", text_col="text")


# --------------------------------------------------------------------- #
# Token-budget quota sampling (select.token_budget_per_group): keep the
# longest documents per source until each source's 800-BPE-token budget
# is spent — the curation step that turns quality ranking + domain
# weights into an actual training mix. Cumulative sum is inclusive, so
# the doc that would cross the budget is dropped.
# --------------------------------------------------------------------- #
@query(
    "q130_token_budget_mix",
    oracle=r"""
    WITH scored AS (
      SELECT doc_id, source, n_chars,
             CAST(len(regexp_extract_all(lower(text),
               '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
               AS n_tokens
      -- unbudgetable (NULL-token) docs are excluded upfront, mirroring
      -- the query's filter: an unknown cost cannot spend a budget
      FROM documents WHERE text IS NOT NULL),
    cum AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM scored)
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= 800
    """,
)
def q130_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import token_budget_per_group

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", "n_chars", tx.bpe_token_count("text").alias("n_tokens")
    ).filter(F.col("n_tokens").isNotNull())
    # sources are human-scale: the hint keeps both side-table joins
    # statically broadcast. nulls_last=True per the operator's contract
    # for a DESCENDING primary sort: desc() places NULL keys last, so
    # their value bucket must be 256 (last), not -1 — without it a row
    # whose n_chars is NULL but whose tokens are not would bucket first
    # while sorting last and cumsum against the wrong prefix
    out = token_budget_per_group(
        scored, "source", "n_tokens",
        [F.col("n_chars").desc(), F.col("doc_id")], budget=800,
        order_key=-F.col("n_chars"), n_groups_hint=64, nulls_last=True,
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


# --------------------------------------------------------------------- #
# Time-grid gap fill + forward fill (events.time_grid_fill): every user
# regularized to a 6-hour grid between their first and last event, value
# forward-filled from the latest observation at-or-before each bucket.
# Oracle: per-user generate_series + DuckDB native ASOF LEFT JOIN.
# --------------------------------------------------------------------- #
@query(
    "q131_time_grid_fill",
    oracle="""
    WITH b AS (
      -- per-key gap filling requires a key: NULL users excluded
      SELECT user_id,
             epoch_us(min(ts)) // 21600000000 AS lob,
             epoch_us(max(ts)) // 21600000000 AS hib
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    g AS (
      SELECT user_id, CAST(to_timestamp(t.i * 21600) AS TIMESTAMP) AS bucket_ts
      FROM b, UNNEST(generate_series(lob, hib)) AS t(i)),
    e AS (
      -- NULL-value events are not observations (engine convention);
      -- bounds above still span the unfiltered stream
      SELECT user_id, ts, arg_max(value, event_id) AS v
      FROM events WHERE value IS NOT NULL GROUP BY user_id, ts)
    SELECT g.user_id, g.bucket_ts, e.v AS value_ff
    FROM g ASOF LEFT JOIN e ON g.user_id = e.user_id AND g.bucket_ts >= e.ts
    """,
)
def q131_time_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.time_grid_fill(events, step_sec=21600)


# --------------------------------------------------------------------- #
# Trailing time-range window aggregate (events.rolling_range_agg): per
# event, count/sum of the user's events in the trailing hour (RANGE
# frame on epoch microseconds — exact INTERVAL-PRECEDING semantics).
# --------------------------------------------------------------------- #
@query(
    "q132_rolling_window",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_trailing,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def q132_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.rolling_range_agg(events, window_sec=3600)


# --------------------------------------------------------------------- #
# Ordered conversion funnel (events.funnel_stages): deepest
# view -> click -> purchase stage per user, each stage strictly after
# the previous one's first entry (min-ts chaining). The Spark form is a
# single groupBy + sorted HOF fold; the oracle is the classic chained
# conditional-min CTE ladder.
# --------------------------------------------------------------------- #
@query(
    "q133_funnel",
    oracle="""
    WITH t1 AS (SELECT user_id, min(ts) AS ts1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM events e
           JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM events e
           JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
                     WHEN t2.user_id IS NOT NULL THEN 2
                     WHEN t1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage_reached,
           t1.ts1 AS t_first_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN t1 USING (user_id)
    LEFT JOIN t2 USING (user_id)
    LEFT JOIN t3 USING (user_id)
    """,
)
def q133_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # explicit opt-out: this query's oracle is the UNCAPPED funnel, so
    # it must not inherit the defensive max_events default (q214 is the
    # capped twin whose oracle applies the identical QUALIFY cap)
    return ev.funnel_stages(
        events, stages=("view", "click", "purchase"), max_events=None
    )


# --------------------------------------------------------------------- #
# Bot-capped funnel (events.funnel_stages max_events): the per-user
# collect is bounded by a deterministic earliest-N rank-filter BEFORE
# collection — the skew guard for a bot emitting millions of stage
# events. The oracle applies the identical cap as a QUALIFY over
# (ts, type), then runs the same chained conditional-min ladder, so
# the guard's exact semantics (not just its existence) hash-check.
# --------------------------------------------------------------------- #
@query(
    "q214_funnel_capped",
    oracle="""
    WITH se AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts, event_type) <= 8),
    t1 AS (SELECT user_id, min(ts) AS ts1 FROM se
           WHERE event_type = 'view' GROUP BY user_id),
    t2 AS (SELECT e.user_id, min(e.ts) AS ts2 FROM se e
           JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY e.user_id),
    t3 AS (SELECT e.user_id, min(e.ts) AS ts3 FROM se e
           JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
                     WHEN t2.user_id IS NOT NULL THEN 2
                     WHEN t1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS stage_reached,
           t1.ts1 AS t_first_stage
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN t1 USING (user_id)
    LEFT JOIN t2 USING (user_id)
    LEFT JOIN t3 USING (user_id)
    """,
)
def q214_funnel_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.funnel_stages(
        events, stages=("view", "click", "purchase"), max_events=8
    )


# --------------------------------------------------------------------- #
# Sparse TF-DF cosine document pairs (text.tfdf_cosine_pairs): the
# inverted-index similarity formulation — pairs exist only through
# shared (df-capped) terms, exact integer weights, DECIMAL dot/norm
# sums, one correctly-rounded double cosine at the end.
# --------------------------------------------------------------------- #
@query(
    "q134_tfdf_cosine_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id AS id, unnest({_T}) AS token FROM documents),
    tf AS (SELECT id, token, count(*) AS tf FROM tok GROUP BY id, token),
    dfreq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token
              HAVING count(*) <= 50),
    w AS (SELECT id, tf.token, CAST(tf * 1000000 // dfc AS BIGINT) AS w
          FROM tf JOIN dfreq USING (token)),
    norms AS (SELECT id, CAST(SUM(CAST(w AS DECIMAL(38,0)) * w) AS DOUBLE) AS n2
              FROM w GROUP BY id),
    dots AS (SELECT a.id AS id_a, b.id AS id_b,
                    CAST(SUM(CAST(a.w AS DECIMAL(38,0)) * b.w) AS DOUBLE) AS dot
             FROM w a JOIN w b ON a.token = b.token AND a.id < b.id
             GROUP BY a.id, b.id)
    SELECT id_a, id_b, round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) + 0.0 AS sim
    FROM dots
    JOIN norms na ON na.id = id_a
    JOIN norms nb ON nb.id = id_b
    WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.5
    """,
)
def q134_tfdf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return tx.tfdf_cosine_pairs(docs, "doc_id", "text", max_df=50, threshold=0.5)


# --------------------------------------------------------------------- #
# Z-order (Morton) clustering value (layout.zorder_value): the bit
# arithmetic that drives multi-column file skipping. The write path
# (layout.zorder_write: quantize -> interleave -> range-partition ->
# sorted parquet) is exercised in tests/test_clustering_sampling.py;
# here the code itself is oracle-checked bit for bit.
# --------------------------------------------------------------------- #
from dabstract_spark.operators.layout import zorder_value, zorder_value_sql as _zsql


@query(
    "q135_zorder_value",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, {_zsql('l_partkey % 256', 'l_suppkey % 256', 8)} AS zval
    FROM lineitem
    WHERE {_zsql('l_partkey % 256', 'l_suppkey % 256', 8)} < 1024
    """,
)
def q135_zorder_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    z = zorder_value((F.col("l_partkey") % 256).cast("int"),
                     (F.col("l_suppkey") % 256).cast("int"), bits=8)
    return (
        li.withColumn("zval", z)
        .filter(F.col("zval") < 1024)
        .select("l_orderkey", "l_linenumber", "zval")
    )


# --------------------------------------------------------------------- #
# Overlapping token-window chunking (text.chunk_text): RAG / context
# ingestion — 16-token chunks every 8 tokens, trailing fragments
# dropped unless they are the document's only chunk.
# --------------------------------------------------------------------- #
@query(
    "q136_chunk_text",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    st AS (SELECT doc_id, t,
                  unnest(generate_series(1, greatest(len(t), 1), 8)) AS s
           FROM toks),
    ch AS (SELECT doc_id, s, t[s : s + 15] AS c FROM st)
    SELECT doc_id, CAST((s - 1) // 8 AS INT) AS chunk_id,
           CAST(len(c) AS INT) AS n_tokens,
           -- Spark array_join([]) = '' but DuckDB array_to_string([])
           -- = NULL: coalesce ONLY the empty-list case (a NULL token
           -- list — NULL text — must stay NULL in both engines)
           md5(CASE WHEN c IS NULL THEN NULL
               ELSE coalesce(array_to_string(c, ' '), '') END) AS chunk_md5
    FROM ch WHERE len(c) = 16 OR s = 1
    """,
)
def q136_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return tx.chunk_text(docs, "doc_id", "text", window=16, stride=8)


# --------------------------------------------------------------------- #
# Relational MERGE / upsert (quality.merge_into): matched keys take the
# source values, unmatched targets survive, unmatched sources insert;
# per-row action audit. Source = every 3rd order with a +10 price bump
# (every 9th left untouched -> 'unchanged' despite matching) plus
# key-shifted inserts.
# --------------------------------------------------------------------- #
@query(
    "q137_merge_upsert",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             o_totalprice + CASE WHEN o_orderkey % 9 = 0 THEN 0 ELSE 10 END
               AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey + 200000000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 4),
    t AS (SELECT o_orderkey, o_totalprice, o_orderstatus, 1 AS in_t FROM orders),
    s AS (SELECT o_orderkey, o_totalprice, o_orderstatus, 1 AS in_s FROM src)
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.in_s IS NOT NULL THEN s.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN s.in_s IS NOT NULL THEN s.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN t.in_t IS NULL THEN 'insert'
                WHEN s.in_s IS NULL THEN 'unchanged'
                WHEN t.o_totalprice IS DISTINCT FROM s.o_totalprice
                     OR t.o_orderstatus IS DISTINCT FROM s.o_orderstatus
                  THEN 'update'
                ELSE 'unchanged' END AS action
    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
    """,
)
def q137_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.quality import merge_into

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    src = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 9 == 0, 0).otherwise(10)
        ).alias("o_totalprice"),
        "o_orderstatus",
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 10 == 4).select(
            (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
            "o_totalprice",
            "o_orderstatus",
        )
    )
    return merge_into(orders, src, "o_orderkey", ["o_totalprice", "o_orderstatus"])


# --------------------------------------------------------------------- #
# SCD2 validity intervals (events.change_intervals): per-user
# event_type change history with (valid_from, valid_to, is_current).
# --------------------------------------------------------------------- #
@query(
    "q138_change_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    changed AS (
      SELECT user_id, event_type AS state, ts AS valid_from, event_id
      FROM ordered WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER w AS valid_to,
           lead(valid_from) OVER w IS NULL AS is_current
    FROM changed
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
)
def q138_change_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    return ev.change_intervals(events, state_col="event_type")


# --------------------------------------------------------------------- #
# Semantic dedup, SemDeDup-style (similarity.semantic_dedup): cluster
# the embedding space (zero-shuffle literal-centroid argmax), then drop
# vectors with a lower-id same-cluster neighbor at cosine >= 0.4. The
# within-cluster pair search is exactly what keeps it sub-quadratic.
# --------------------------------------------------------------------- #
@query(
    "q139_semantic_dedup",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
                  FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             {_cos_sql('e.embedding', 'c.cvec')} AS sim
      FROM embeddings e CROSS JOIN cent c),
    asg AS (
      SELECT vec_id, embedding, cid FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
    dup AS (
      SELECT DISTINCT b.vec_id
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.4)
    SELECT asg.vec_id, CAST(asg.cid AS INT) AS centroid_id,
           dup.vec_id IS NULL AS keep
    FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
    """,
)
def q139_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=8)
    return sim.semantic_dedup(emb, cents, threshold=0.4)


# --------------------------------------------------------------------- #
# Edit-distance near-dups with prefix blocking (dedup.fuzzy_pairs):
# the record-linkage classic — catches single-character typos that
# change every covering k-gram but cost edit distance 1. Both engines
# share levenshtein semantics over the same normalized 40-char keys.
# max_block=64 caps each prefix block BEFORE the self-join (md5-min
# keep-set, mirrored by the oracle's QUALIFY) — a hot boilerplate
# prefix must not become one task's O(b²) join.
# --------------------------------------------------------------------- #
_FUZZY_BLOCK_CTE = r"""
    fk AS (
      SELECT doc_id AS id,
             substr(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 40) AS k
      FROM documents),
    fb AS (SELECT id, k, substr(k, 1, 4) AS blk FROM fk
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY blk
             ORDER BY md5('0:' || CAST(id AS VARCHAR))) <= 64)"""


@query(
    "q145_fuzzy_pairs",
    oracle=rf"""
    WITH {_FUZZY_BLOCK_CTE}
    SELECT a.id AS id_a, b2.id AS id_b,
           CAST(levenshtein(a.k, b2.k) AS INT) AS dist
    FROM fb a JOIN fb b2 ON a.blk = b2.blk AND a.id < b2.id
    WHERE levenshtein(a.k, b2.k) <= 5
    """,
)
def q145_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.fuzzy_pairs(
        docs, "doc_id", "text", prefix_len=4, key_len=40, max_dist=5, max_block=64
    )


# --------------------------------------------------------------------- #
# Equi-depth histogram (SURVEY §2.4): decile buckets of order value
# with per-bucket stats. NOT the global-NTILE form (a WindowExec with no
# partition key is one task at scale) — the rank comes from the
# distributed bucketed row_id (core.with_row_id) and the decile is pure
# arithmetic on it; the oracle mirrors the same floor mapping.
# --------------------------------------------------------------------- #
@query(
    "q146_equidepth_deciles",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             (ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) - 1) * 10
               // COUNT(*) OVER () + 1 AS decile
      FROM orders)
    SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM t GROUP BY decile
    """,
)
def q146_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.core import with_row_id

    orders = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    n = orders.select(F.count(F.lit(1)).alias("__n"))
    ranked = with_row_id(orders, ["o_totalprice", "o_orderkey"]).crossJoin(
        F.broadcast(n)
    )
    t = ranked.select(
        "o_totalprice",
        F.expr("row_id * 10 div __n").cast("int").alias("__d"),
    )
    return t.groupBy((F.col("__d") + 1).alias("decile")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# --------------------------------------------------------------------- #
# PageRank over the fuzzy near-dup graph (operators/graph.py): rank
# propagation in EXACT integer micro-units — float PageRank sums are
# order-dependent across engines, the integer recurrence is bit-exact,
# so a fixed-iteration run hash-checks. The oracle unrolls the three
# iterations as CTEs over the same edge derivation as q145.
# --------------------------------------------------------------------- #
def _pagerank_iter_sql(prev: str, out: str) -> str:
    return f"""{out} AS (
      SELECT d.id, d.deg,
             150000000000 + 85 * COALESCE(s.inc, 0) // 100 AS rank
      FROM d LEFT JOIN (
        SELECT e.dst AS id, SUM(r.rank // r.deg) AS inc
        FROM e JOIN {prev} r ON e.src = r.id GROUP BY e.dst) s
      ON d.id = s.id)"""


@query(
    "q161_pagerank_neardup",
    oracle=rf"""
    WITH {_FUZZY_BLOCK_CTE},
    p AS (SELECT a.id AS id_a, b2.id AS id_b
          FROM fb a JOIN fb b2 ON a.blk = b2.blk AND a.id < b2.id
          WHERE levenshtein(a.k, b2.k) <= 5),
    e AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
    d AS (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY src),
    n AS (SELECT COUNT(*) AS n FROM d),
    r0 AS (SELECT id, deg, 1000000000000 // n AS rank FROM d, n),
    {_pagerank_iter_sql('r0', 'r1')},
    {_pagerank_iter_sql('r1', 'r2')},
    {_pagerank_iter_sql('r2', 'r3')}
    SELECT id, deg AS degree, rank AS rank_micro FROM r3
    """,
)
def q161_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    pairs = dd.fuzzy_pairs(
        docs, "doc_id", "text", prefix_len=4, key_len=40, max_dist=5, max_block=64
    )
    return pagerank(pairs, iters=3)


# --------------------------------------------------------------------- #
# int8-quantized ANN (similarity.quantize_embeddings / topk_quantized):
# the 4x-smaller-working-set scale path. Quantized scores are exact
# integer dots (floor(+0.5) quantization — IEEE-deterministic, unlike
# round()'s tie rule) so the ranking is bit-identical across engines.
# --------------------------------------------------------------------- #
_QUANT_CTE = """
    mxt AS (SELECT vec_id, embedding,
                   list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
            FROM embeddings),
    q AS (SELECT vec_id,
                 CASE WHEN mx = 0
                      THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
                      ELSE list_transform(embedding,
                             x -> CAST(floor(x::DOUBLE * 127 / mx + 0.5) AS BIGINT))
                 END AS qvec
          FROM mxt),
    qn AS (SELECT vec_id, qvec,
                  CAST(list_sum(list_transform(qvec, v -> v * v)) AS BIGINT) AS qnorm2
           FROM q)"""


@query(
    "q166_quantized_topk",
    oracle=f"""
    WITH {_QUANT_CTE},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             ROUND(CAST(list_sum(list_transform(generate_series(1, 64),
                          j -> a.qvec[j] * b.qvec[j])) AS DOUBLE)
                   / (sqrt(greatest(a.qnorm2, 1)) * sqrt(greatest(b.qnorm2, 1))), 6) AS qsim
      FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 5)
    SELECT query_id, vec_id, qsim,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qsim DESC, vec_id) AS INT) AS rank
    FROM scored QUALIFY rank <= 3
    """,
)
def q166_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return sim.topk_quantized(emb, queries_df, k=3).select(
        "query_id", "vec_id", "qsim", F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------- #
# ANN recall evaluation (the harness every approximate index needs):
# recall@10 of the LSH path against the exact brute-force ranking, per
# query. Membership-only comparison, so rounded-sim ties are harmless
# (both rankings break ties on vec_id).
# --------------------------------------------------------------------- #
@query(
    "q167_lsh_recall",
    oracle=f"""
    WITH exact_s AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20),
    exact_k AS (
      SELECT query_id, vec_id FROM exact_s
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) <= 10),
    bk AS (
      SELECT vec_id, embedding, CAST({_lsh_bucket_sql(8, 0)} AS BIGINT) AS bucket
      FROM embeddings),
    lsh_s AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
      FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
      WHERE a.vec_id < 20),
    lsh_k AS (
      SELECT query_id, vec_id FROM lsh_s
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) <= 10),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n
      FROM exact_k e JOIN lsh_k l ON e.query_id = l.query_id AND e.vec_id = l.vec_id
      GROUP BY e.query_id)
    SELECT q.vec_id AS query_id, COALESCE(h.n, 0) AS n_hit,
           COALESCE(h.n, 0) / 10.0 AS recall
    FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 20) q
    LEFT JOIN hits h ON q.vec_id = h.query_id
    """,
)
def q167_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    exact_k = sim.topk_bruteforce(emb, queries_df, k=10).select("query_id", "vec_id")
    lsh_k = sim.topk_lsh(emb, queries_df, k=10, n_bits=8, dim=64, seed=0).select(
        "query_id", "vec_id"
    )
    hits = (
        exact_k.join(lsh_k, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    all_q = queries_df.select(F.col("vec_id").alias("query_id"))
    return (
        all_q.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_hit"),
            (F.coalesce(F.col("n"), F.lit(0)) / F.lit(10.0)).alias("recall"),
        )
    )


# --------------------------------------------------------------------- #
# Span-level substring dedup (text.substring_dedup): remove every
# 8-token span occurring >= 2 times corpus-wide — the suffix-array-style
# pass that catches boilerplate doc- and paragraph-dedup miss. Oracle
# mirrors the positional-shingle → df → island-merge → indexed-lambda
# rebuild pipeline stage for stage.
# --------------------------------------------------------------------- #
@query(
    "q169_substring_dedup",
    oracle=r"""
    WITH tk AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS t
      FROM documents),
    ps AS (
      SELECT id, i AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
      FROM tk, UNNEST(generate_series(1, GREATEST(len(t) - 7, 0))) AS u(i)),
    rep AS (SELECT h FROM ps GROUP BY h HAVING COUNT(*) >= 2),
    mk AS (SELECT id, pos FROM ps WHERE h IN (SELECT h FROM rep)),
    lagd AS (SELECT id, pos, LAG(pos) OVER (PARTITION BY id ORDER BY pos) AS prev FROM mk),
    isl AS (SELECT id, pos,
              SUM(CASE WHEN prev IS NULL OR pos - prev > 8 THEN 1 ELSE 0 END)
                OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
            FROM lagd),
    sp AS (SELECT id, MIN(pos) AS s, MAX(pos) + 8 AS e FROM isl GROUP BY id, island),
    spl AS (SELECT id, list_sort(list({'s': s, 'e': e})) AS spans FROM sp GROUP BY id),
    fin AS (
      SELECT tk.id, tk.t,
             COALESCE(spl.spans, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS spans
      FROM tk LEFT JOIN spl ON tk.id = spl.id),
    reb AS (
      SELECT id, t,
             list_filter(t, (x, i) ->
               NOT len(list_filter(spans, sp -> sp.s <= i AND i < sp.e)) > 0) AS kept
      FROM fin)
    SELECT id AS doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
           -- array_to_string([]) is NULL in DuckDB, '' in Spark's
           -- array_join; coalesce ONLY the empty-list case — a NULL
           -- token list (NULL text) stays NULL in both engines
           md5(CASE WHEN t IS NULL THEN NULL
               ELSE COALESCE(array_to_string(kept, ' '), '') END) AS clean_md5
    FROM reb
    """,
)
def q169_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = tx.substring_dedup(docs, "doc_id", "text", k=8, min_df=2)
    return out.select(
        "doc_id", "n_tokens", "n_removed", F.md5("clean_text").alias("clean_md5")
    )


# --------------------------------------------------------------------- #
# BM25 keyword retrieval (text.bm25_topk) and reciprocal-rank-fusion
# hybrid search: the text side of retrieval next to the ANN side. Float
# constants are interpolated from Python reprs so both engines parse
# the IDENTICAL doubles (1.2 + 1.0 is not the literal 2.2 bit-for-bit).
# --------------------------------------------------------------------- #
_BM_TERMS = ["join", "vector", "stream"]
_K1, _B = 1.2, 0.75
_K1P1, _OMB = repr(_K1 + 1.0), repr(1.0 - _B)


def _bm25_cte() -> str:
    dfs = ", ".join(
        f"SUM(CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(_BM_TERMS)
    )
    score = "0.0"
    for i, t in enumerate(_BM_TERMS):
        tf = f"CAST(len(list_filter(t, x -> x = '{t}')) AS DOUBLE)"
        idf = f"ln(1.0 + (n - CAST(df{i} AS DOUBLE) + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))"
        score += (
            f" + {idf} * ({tf} * {_K1P1}) / ({tf} + {_K1} * "
            f"({_OMB} + {_B} * CAST(len(t) AS DOUBLE) / (CAST(sumdl AS DOUBLE) / n)))"
        )
    return rf"""
    tk AS (SELECT doc_id AS id,
                  list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS t
           FROM documents),
    st AS (SELECT COUNT(*) AS n, SUM(len(t)) AS sumdl, {dfs} FROM tk),
    sc AS (SELECT id, ROUND({score}, 4) AS score FROM tk, st),
    bm AS (SELECT id, score,
                  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, id) AS INT) AS rank
           FROM sc WHERE score > 0.0
           QUALIFY rank <= {{k}})"""


@query(
    "q170_bm25_topk",
    oracle=f"""
    WITH {_bm25_cte().format(k=10)}
    SELECT id AS doc_id, score, rank FROM bm
    """,
)
def q170_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return tx.bm25_topk(docs, "doc_id", "text", _BM_TERMS, k=10, k1=_K1, b=_B)


@query(
    "q171_hybrid_rrf",
    # hybrid retrieval: BM25 rank list fused with the exact vector rank
    # list (query vector = vec_id 0) by reciprocal-rank fusion in
    # integer micro-units — 10^12 div (60 + rank) — so the fused score
    # is exact integer arithmetic, immune to float summation order.
    oracle=f"""
    WITH {_bm25_cte().format(k=50)},
    vr AS (
      SELECT b.vec_id AS id,
             CAST(ROW_NUMBER() OVER (ORDER BY ROUND({{dot}} / ({{na}} * {{nb}}), 6) DESC, b.vec_id) AS INT) AS rank
      FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id <> 0
      QUALIFY rank <= 50)
    SELECT COALESCE(bm.id, vr.id) AS doc_id,
           bm.rank AS r_text, vr.rank AS r_vec,
           COALESCE(1000000000000 // (60 + bm.rank), 0)
             + COALESCE(1000000000000 // (60 + vr.rank), 0) AS rrf_micro
    FROM bm FULL OUTER JOIN vr ON bm.id = vr.id
    """.format(
        k=50,
        dot="list_sum(list_transform(generate_series(1, 64), j -> (a.embedding[j])::DOUBLE * (b.embedding[j])::DOUBLE))",
        na="(CASE WHEN list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)) = 0 THEN 1"
        " ELSE sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) END)",
        nb="(CASE WHEN list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)) = 0 THEN 1"
        " ELSE sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE))) END)",
    ),
)
def q171_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = tx.bm25_topk(docs, "doc_id", "text", _BM_TERMS, k=50, k1=_K1, b=_B).select(
        F.col("doc_id").alias("b_id"), F.col("rank").alias("r_text")
    )
    vr = sim.topk_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=50).select(
        F.col("vec_id").alias("v_id"), F.col("rank").cast("int").alias("r_vec")
    )
    fused = bm.join(vr, F.col("b_id") == F.col("v_id"), "full_outer")
    rrf = F.coalesce(
        F.expr("1000000000000 div (60 + r_text)"), F.lit(0).cast("long")
    ) + F.coalesce(F.expr("1000000000000 div (60 + r_vec)"), F.lit(0).cast("long"))
    return fused.select(
        F.coalesce(F.col("b_id"), F.col("v_id")).alias("doc_id"),
        "r_text",
        "r_vec",
        rrf.alias("rrf_micro"),
    )


# --------------------------------------------------------------------- #
# Full k-means (Lloyd) refinement run, exact oracle: 2 assign→update
# iterations with DECIMAL-sum centroid means (order-independent, so the
# refined centroids are bit-identical across engines and partitionings)
# followed by the final assignment. The oracle unrolls both iterations
# — 64 decimal SUM columns per update — and must reproduce the
# identical assignment for every vector.
# --------------------------------------------------------------------- #
_KM_K, _KM_DIM = 4, 64


def _km_assign(cent: str, out: str) -> str:
    return f"""{out} AS (
      SELECT e.vec_id, e.embedding, c.cid FROM embeddings e CROSS JOIN {cent} c
      QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid) = 1)"""


def _km_update(prev_asg: str, prev_cent: str, out: str) -> str:
    sums = ", ".join(
        f"CAST(SUM(CAST(embedding[{j}]::DOUBLE AS DECIMAL(27,10))) AS DOUBLE)"
        f" / COUNT(*) AS m{j}"
        for j in range(1, _KM_DIM + 1)
    )
    pack = "[" + ", ".join(f"u.m{j}" for j in range(1, _KM_DIM + 1)) + "]"
    return f"""{out}_u AS (SELECT cid, {sums} FROM {prev_asg} GROUP BY cid),
    {out} AS (
      SELECT p.cid, CASE WHEN u.cid IS NULL THEN p.cv ELSE {pack} END AS cv
      FROM {prev_cent} p LEFT JOIN {out}_u u ON p.cid = u.cid)"""


@query(
    "q174_kmeans_refine",
    oracle=f"""
    WITH cent0 AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> x::DOUBLE) AS cv
      FROM embeddings WHERE vec_id < {_KM_K}),
    {_km_assign('cent0', 'a0')},
    {_km_update('a0', 'cent0', 'cent1')},
    {_km_assign('cent1', 'a1')},
    {_km_update('a1', 'cent1', 'cent2')},
    {_km_assign('cent2', 'af')}
    SELECT vec_id, CAST(cid AS INT) AS centroid_id FROM af
    """,
)
def q174_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    seeds = sim.ivf_centroids(emb, n_centroids=_KM_K)
    refined = sim.ivf_refine(emb, seeds, iters=2, exact=True)
    return sim.ivf_assign(emb, refined).select(
        "vec_id", F.col("centroid_id").cast("int").alias("centroid_id")
    )


# --------------------------------------------------------------------- #
# Heavy hitters via deterministic sampled candidate pruning: at 100 TB
# a token-frequency top-k cannot afford to shuffle every distinct token
# — instead count tokens in a deterministic md5-Bernoulli 25% document
# sample, keep the top-50 candidates, and re-count ONLY those tokens
# over the full corpus (the candidate filter pushes a broadcast
# semi-join below the big aggregation). The oracle MIRRORS the
# sample-prune pipeline (same 25% md5 sample, same top-50 candidate
# cut), so the hash-match checks the pruned pipeline, not an oracle-vs-
# heuristic claim. The reported counts of surviving tokens are exact
# full-corpus counts; that the pruned top-10 equals the UNPRUNED exact
# top-10 is an empirical property of the candidate margin (verified on
# zipf corpora by tests/test_properties.py's heavy-hitter recovery
# test), not a structural guarantee.
# --------------------------------------------------------------------- #
@query(
    "q177_heavy_hitters",
    oracle=f"""
    WITH tok_all AS (
      SELECT doc_id, unnest({_TOKENS.format(c='text')}) AS token FROM documents),
    samp AS (
      SELECT token FROM tok_all
      WHERE CAST(('0x' || substr(md5('7:hh/' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 < 0.25),
    cand AS (
      SELECT token FROM samp GROUP BY token
      QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) <= 50)
    SELECT token, COUNT(*) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS INT) AS rank
    FROM tok_all JOIN cand USING (token)
    GROUP BY token
    QUALIFY rank <= 10
    """,
)
def q177_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dabstract_spark.functions.hashing import md5_unit

    docs = _t(spark, sf_dir, "documents")
    tok_all = docs.select(
        "doc_id", F.explode(tx.tokens("text")).alias("token")
    )
    samp = docs.filter(
        md5_unit(F.concat(F.lit("hh/"), F.col("doc_id").cast("string")), 7) < 0.25
    ).select(F.explode(tx.tokens("text")).alias("token"))
    # top-50 candidates via orderBy+limit -> TakeOrderedAndProject:
    # distributed per-partition partial top-k, NO single-partition window
    # over the (unbounded) distinct-token set
    cand = (
        samp.groupBy("token")
        .count()
        .orderBy(F.desc("count"), F.asc("token"))
        .limit(50)
        .select("token")
    )
    counted = (
        tok_all.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # the ranking window here runs over <= 50 candidate rows (bounded by
    # construction), not the corpus — safe at any scale
    return (
        counted.withColumn(
            "rank",
            F.row_number()
            .over(Window.partitionBy(F.lit(0)).orderBy(F.desc("cnt"), F.asc("token")))
            .cast("int"),
        )
        .filter(F.col("rank") <= 10)
        .select("token", "cnt", "rank")
    )


# --------------------------------------------------------------------- #
# Bigram-LM coherence scoring (perplexity proxy, library-free): train
# bigram statistics on the corpus itself, score every document by its
# average conditional bigram frequency in exact integer ppm — the cheap
# quality signal for LLM-corpus curation when no external LM exists.
# Integer div end to end => bit-identical across engines.
# --------------------------------------------------------------------- #
@query(
    "q178_bigram_coherence",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS.format(c='text')} AS ts FROM documents),
    big AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
    ctx AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1)
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(1000000 * c2.c2 // ctx.c1) // COUNT(*) AS BIGINT)
             AS coherence_ppm
    FROM big b JOIN c2 USING (w1, w2) JOIN ctx USING (w1)
    GROUP BY b.doc_id
    """,
)
def q178_bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return tx.bigram_coherence(docs, "doc_id", "text")


# --------------------------------------------------------------------- #
# PCA projection with a cross-engine bit-exact power iteration: the
# scatter matrix M = n*S2 - S1*S1ᵀ is built from exact micro-unit
# integer sums (the only data-sized work — one scan, one dim²-row
# shuffle), the 3-step power iteration runs in arbitrary-precision
# integers (HUGEINT in the oracle, Python big-ints in the engine) with
# sign-safe 1e6 re-quantization each step, and the final projection is
# a map-side integer dot product. Exact integers end to end => the
# eigenvector run itself is hash-checkable, not just "close".
# --------------------------------------------------------------------- #
def _pca_iter_sql(prev_v: str, out: str) -> str:
    return f"""{out}_u AS (
      SELECT m.i, SUM(m.mm * {prev_v}.v) AS u
      FROM m JOIN {prev_v} ON m.j = {prev_v}.i GROUP BY m.i),
    {out} AS (
      SELECT i, CASE WHEN u < 0 THEN -((-u) * 1000000 // mx)
                     ELSE u * 1000000 // mx END AS v
      FROM {out}_u CROSS JOIN (SELECT MAX(abs(u)) AS mx FROM {out}_u))"""


@query(
    "q179_pca_projection",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, CAST(j - 1 AS INT) AS i,
             CAST(CAST(round(embedding[j]::DOUBLE, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xi
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(j)),
    s2 AS (
      SELECT a.i AS i, b.i AS j, SUM(CAST(a.xi AS HUGEINT) * b.xi) AS s2
      FROM x a JOIN x b USING (vec_id) GROUP BY a.i, b.i),
    s1 AS (SELECT i, SUM(CAST(xi AS HUGEINT)) AS s1, COUNT(*) AS n FROM x GROUP BY i),
    m AS (
      SELECT s2.i, s2.j, sa.n * s2.s2 - sa.s1 * sb.s1 AS mm
      FROM s2 JOIN s1 sa ON s2.i = sa.i JOIN s1 sb ON s2.j = sb.i),
    v0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS v FROM s1),
    {_pca_iter_sql('v0', 'v1')},
    {_pca_iter_sql('v1', 'v2')},
    {_pca_iter_sql('v2', 'v3')}
    SELECT x.vec_id,
           CAST(CASE WHEN SUM(x.xi * v3.v) < 0
                     THEN -((-SUM(x.xi * v3.v)) // 1000000)
                     ELSE SUM(x.xi * v3.v) // 1000000 END AS BIGINT) AS proj_micro
    FROM x JOIN v3 ON x.i = v3.i
    GROUP BY x.vec_id
    """,
)
def q179_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.pca_power_projection(emb, iters=3)


# --------------------------------------------------------------------- #
# Grouped OLS trend (per-user slope of value over time) with the whole
# regression in exact integers: x = epoch-day, y = value micro-units,
# slope_ppm_per_day = 1e6 * (n·Σxy − Σx·Σy) div (n·Σx² − (Σx)²) with the
# combination arithmetic in DECIMAL(38,0)/HUGEINT (the int64-overflowing
# step) and sign-safe magnitude division. One groupBy — partial
# aggregation absorbs per-user skew; output is one row per user.
# --------------------------------------------------------------------- #
@query(
    "q181_grouped_trend",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 AS x,
             CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
      FROM events),
    agg AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM pts GROUP BY user_id)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                     WHEN (n * sxy - sx * sy) < 0
                     THEN -((-(n * sxy - sx * sy)) * 1000000 // (n * sxx - sx * sx))
                     ELSE (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                END AS BIGINT) AS slope_ppm
    FROM agg
    """,
)
def q181_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.events import _epoch_us

    evts = _t(spark, sf_dir, "events")
    pts = evts.select(
        "user_id",
        (_epoch_us("ts") / F.lit(86400000000)).cast("bigint").alias("x"),
        (F.round(F.col("value"), 6).cast("decimal(18,6)") * F.lit(1000000))
        .cast("bigint")
        .alias("y"),
    )
    # accumulate the raw sums in decimal(38,0), matching the oracle's
    # HUGEINT: the xy/xx PRODUCTS are ~1e16 per row already, so a large
    # per-user row count overflows an int64 accumulator (silent non-ANSI
    # wrap) long before the combination step does — same recipe as
    # time_weighted_avg in operators/events.py
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("sxy"),
    )
    # decimal `div` = divideToIntegralValue (truncation), exact — NOT
    # float floor(a/b), whose rounded decimal division can flip an
    # integer boundary; divide magnitudes only so truncation == floor
    staged = agg.select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("sxy")
            - F.col("sx").cast("decimal(38,0)") * F.col("sy")
        ).alias("__num"),
        (
            F.col("n").cast("decimal(38,0)") * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx")
        ).alias("__den"),
    )
    slope = (
        F.when(F.col("__den") == 0, F.lit(0).cast("bigint"))
        .when(F.col("__num") < 0, -F.expr("((-__num) * 1000000) div __den"))
        .otherwise(F.expr("(__num * 1000000) div __den"))
    )
    return staged.select("user_id", "n", slope.cast("bigint").alias("slope_ppm"))


# --------------------------------------------------------------------- #
# Asymmetric shingle containment |A∩B|/|A| — the quotation/boilerplate
# signal Jaccard structurally misses (a short doc quoted inside a long
# one has tiny Jaccard but containment ≈ 1 on the short side). Same
# df-capped inverted-index candidates as q48; scores in exact integer
# ppm per direction.
# --------------------------------------------------------------------- #
@query(
    "q184_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct({_shingles('text', 2)})) AS s
      FROM documents),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (s) JOIN kept USING (s) WHERE a.id < b.id
      GROUP BY a.id, b.id)
    SELECT id_a, id_b,
           CAST(1000000 * n_common // sa.n_sh AS BIGINT) AS contain_a_ppm,
           CAST(1000000 * n_common // sb.n_sh AS BIGINT) AS contain_b_ppm
    FROM common
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE 1000000 * n_common // sa.n_sh >= 600000
       OR 1000000 * n_common // sb.n_sh >= 600000
    """,
)
def q184_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.containment_pairs(
        docs, "doc_id", "text", k=2, threshold_ppm=600000, max_df=100
    )


# --------------------------------------------------------------------- #
# Near-dup-aware (leakage-free) train/test split: the standard LLM-data
# practice that plain random splits violate — near-duplicate documents
# must land in the SAME fold or the test set leaks into training. The
# minhash cluster labels (q84) become the GROUP of a group-kfold
# (§2.10), so fold boundaries never cut a duplicate cluster. One
# composed plan: sketch → band → pair → cluster → broadcast fold join.
# --------------------------------------------------------------------- #
@query(
    "q188_cluster_safe_split",
    oracle=f"""
    WITH RECURSIVE
         tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM capped a JOIN capped b USING (band_id, band_hash)
           WHERE a.doc_id < b.doc_id),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT doc_id AS id, doc_id AS comp FROM documents
           UNION
           SELECT e.dst AS id, r.comp
           FROM reach r JOIN edges e ON e.src = r.id),
         clus AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
         gfold AS (
           SELECT cluster_id,
                  CAST((ROW_NUMBER() OVER (ORDER BY md5('2:' || CAST(cluster_id AS VARCHAR))) - 1) % 5 AS INT) AS fold
           FROM (SELECT DISTINCT cluster_id FROM clus))
    SELECT c.doc_id, c.cluster_id, g.fold
    FROM clus c JOIN gfold g USING (cluster_id)
    """,
)
def q188_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators import xval as xv

    docs = _t(spark, sf_dir, "documents")
    # referenced twice (fold assignment + final join): one lazy stage
    # boundary stops the clustering tree (docs scan + singleton
    # anti-join) executing per reference (r12, the q228 discipline)
    clusters = dd.minhash_dedup_clusters(
        docs, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    ).localCheckpoint(eager=False)
    folds = xv.group_random_kfold(
        clusters, folds=5, key="doc_id", group="cluster_id", seed=2
    )
    return clusters.join(folds, "doc_id").select("doc_id", "cluster_id", "fold")


# --------------------------------------------------------------------- #
# Corpus curation report — the per-(source, detected-language) dashboard
# a data-curation team reads before mixing: doc counts, BPE token
# budget, exact integer mean quality, and how many docs survive exact
# dedup. ONE pass computes all detected columns; the dedup survivor
# count joins a groupBy-min keeper table. Quality mean stays in bigint
# ppm end to end (a mean over the /1e6 double would round-trip through
# an inexact value).
# --------------------------------------------------------------------- #
@query(
    "q191_curation_report",
    oracle=f"""
    WITH det AS (
      SELECT doc_id, source, text,
             CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                  WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                  WHEN {_SCORE['dt']} > 0 THEN 'dt'
                  ELSE 'und' END AS lang_pred,
             len(regexp_extract_all(lower(text),
                 '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS q_ppm,
             ROW_NUMBER() OVER (
               PARTITION BY COALESCE(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')),
                                     'null:' || CAST(doc_id AS VARCHAR))
               ORDER BY doc_id) AS rn
      FROM documents)
    SELECT source, lang_pred,
           COUNT(*) AS n_docs,
           SUM(n_bpe) AS bpe_tokens,
           CAST(SUM(q_ppm) // COUNT(*) AS BIGINT) AS mean_quality_ppm,
           SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS dedup_survivors
    FROM det GROUP BY source, lang_pred
    """,
)
def q191_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    w = __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
        F.coalesce(
            F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")),
            F.concat(F.lit("null:"), F.col("doc_id").cast("string")),
        )
    ).orderBy("doc_id")
    det = docs.select(
        "source",
        tx.lang_id("text").alias("lang_pred"),
        tx.bpe_token_count("text").alias("__n_bpe"),
        tx.quality_score_ppm("text").alias("__q_ppm"),
        F.row_number().over(w).alias("__rn"),
    )
    return det.groupBy("source", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n_bpe").alias("bpe_tokens"),
        F.expr("sum(__q_ppm) div count(1)").cast("bigint").alias("mean_quality_ppm"),
        F.sum((F.col("__rn") == 1).cast("bigint")).alias("dedup_survivors"),
    )


# --------------------------------------------------------------------- #
# Streaming twin of q182 (live rolling 7-day distinct users): streaming
# COUNT(DISTINCT) doesn't exist, so distinctness is dropDuplicates
# state on (user, window-day) feeding a plain streaming count —
# drained availableNow, must equal the batch WAU SQL exactly.
# --------------------------------------------------------------------- #
@query(
    "q192_stream_rolling_distinct",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    win AS (
      SELECT user_id, day + CAST(i AS INT) AS wday
      FROM ud, UNNEST(generate_series(0, 6)) AS t(i))
    SELECT wday, COUNT(DISTINCT user_id) AS wau
    FROM win GROUP BY wday
    """,
)
def q192_stream_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.streaming.ops import (
        rolling_distinct_stream,
        run_to_memory,
        stream_events,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    return run_to_memory(rolling_distinct_stream(src))


# --------------------------------------------------------------------- #
# Per-key time-weighted average (trapezoidal) — the irregular-sampling
# mean (a value held an hour must weigh 60x one held a minute). Exact:
# micro-unit values × epoch-µs spans in DECIMAL(38)/HUGEINT, integral
# division => bit-identical twa_micro.
# --------------------------------------------------------------------- #
@query(
    "q193_time_weighted_avg",
    oracle="""
    WITH pts AS (
      -- NULL-value rows carry no observation (engine convention; they
      -- would also make the (t, v) tiebreak order engine-dependent)
      SELECT user_id, epoch_us(ts) AS t,
             CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    seg AS (
      SELECT user_id, t, v,
             LAG(t) OVER w AS pt, LAG(v) OVER w AS pv
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY t, v)),
    agg AS (
      SELECT user_id,
             SUM(CAST(v + pv AS HUGEINT) * (t - pt)) AS num,
             MAX(t) - MIN(t) AS span
      FROM seg GROUP BY user_id)
    SELECT user_id,
           CAST(CASE WHEN num < 0 THEN -((-num) // CAST(2 * span AS HUGEINT))
                     ELSE num // CAST(2 * span AS HUGEINT) END AS BIGINT) AS twa_micro
    FROM agg WHERE span > 0
    """,
)
def q193_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    evts = _t(spark, sf_dir, "events")
    return ev.time_weighted_avg(evts)


# --------------------------------------------------------------------- #
# Re-aggregatable count-min sketch (operators/sketches.py; Cormode &
# Muthukrishnan 2005) — the frequency twin of q176's HLL rollup: partial
# per-lang sketches persist as tiny (j, bucket, cnt) tables, the global
# sketch is a merge-by-SUM (no corpus rescan), and point estimates =
# min over md5 hash families. All-integer md5 arithmetic ⇒ the whole
# sketch pipeline hash-matches the oracle, including the structural
# never-underestimate guarantee on the exact top-20 tokens.
# --------------------------------------------------------------------- #
_CMS_BUCKET = (
    "CAST(CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {k}), 1, 8)) "
    "AS BIGINT) % 256 AS INT)"
)


@query(
    "q197_cms_token_counts",
    oracle=f"""
    WITH tok AS (SELECT lang, unnest({_T}) AS token FROM documents),
    sk AS (
      SELECT lang, j, {_CMS_BUCKET.format(j='j', k='token')} AS bucket,
             COUNT(*) AS cnt
      FROM tok, UNNEST(generate_series(0, 3)) AS t(j)
      GROUP BY lang, j, bucket),
    merged AS (SELECT j, bucket, SUM(cnt) AS cnt FROM sk GROUP BY j, bucket),
    probes AS (
      SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token
      ORDER BY exact_cnt DESC, token LIMIT 20),
    est AS (
      SELECT p.token, p.exact_cnt, MIN(m.cnt) AS est
      FROM probes p JOIN merged m
        ON m.bucket = {_CMS_BUCKET.format(j='m.j', k='p.token')}
      GROUP BY p.token, p.exact_cnt)
    SELECT token, exact_cnt, CAST(est AS BIGINT) AS est,
           est >= exact_cnt AS never_under
    FROM est
    """,
)
def q197_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators import sketches as sk

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tx.tokens("text")).alias("token"))
    # stage 1: partial sketches a pipeline would persist per partition
    partials = sk.cms_sketch(tok, "token", group_cols=("lang",))
    # stage 2: merge-only global rollup — langs collapse by summation
    merged = sk.cms_merge(partials)
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(20)
    est = sk.cms_estimate(merged, probes, "token")
    return est.select(
        "token",
        "exact_cnt",
        "est",
        (F.col("est") >= F.col("exact_cnt")).alias("never_under"),
    )


# --------------------------------------------------------------------- #
# Re-aggregatable Bloom filter (operators/bloom.py; Bloom 1970) — the
# MEMBERSHIP twin of the CMS/HLL sketches: a corpus's digest set
# persists as a tiny distinct set-bits table (merge = DISTINCT union,
# never a rescan), probing broadcasts, and the no-false-negative law
# makes the q211 ingest pre-filter EXACTLY equal to the plain anti-join
# (its oracle IS the plain anti-join SQL). All-integer md5 arithmetic
# ⇒ bit positions, membership, and the q212 false-positive census all
# hash-match across engines.
# --------------------------------------------------------------------- #
_BLOOM_BIT = (
    "CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {k}), 1, 8)) "
    "AS BIGINT) % 65536"
)
_DOC_DIGEST = f"md5({_NORM.format(c='text')})"


@query(
    "q210_bloom_membership",
    oracle=f"""
    WITH seen AS (
      SELECT DISTINCT {_DOC_DIGEST} AS h FROM documents WHERE doc_id % 3 <> 0),
    bits AS (
      SELECT DISTINCT {_BLOOM_BIT.format(j='j', k='h')} AS bit
      FROM seen, UNNEST(generate_series(0, 3)) AS t(j)),
    pr AS (SELECT doc_id, {_DOC_DIGEST} AS h FROM documents),
    pb AS (
      SELECT doc_id, {_BLOOM_BIT.format(j='j', k='h')} AS bit
      FROM pr, UNNEST(generate_series(0, 3)) AS t(j))
    SELECT pb.doc_id, COUNT(b.bit) = 4 AS possible_member
    FROM pb LEFT JOIN bits b USING (bit)
    GROUP BY pb.doc_id
    """,
)
def q210_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the filter over two-thirds of the corpus's content digests,
    probe EVERY document: members always report possible_member (no
    false negatives); non-members almost always report false at this
    fill ratio — both facts hash-checked bit-for-bit."""
    from dabstract_spark.operators.bloom import bloom_probe, bloom_sketch
    from dabstract_spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents")
    seen = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5(normalize_text("text")).alias("h"))
        .distinct()
    )
    sk = bloom_sketch(seen, "h")
    probes = docs.select("doc_id", F.md5(normalize_text("text")).alias("__h"))
    return bloom_probe(sk, probes, "__h").select("doc_id", "possible_member")


@query(
    "q211_bloom_dedup_against",
    # the oracle is the PLAIN exact anti-join: the bloom pre-filter must
    # be invisible in the output (no false negatives; false positives
    # are re-verified exactly)
    oracle=f"""
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 3 = 0
      -- NOT EXISTS, never NOT IN: a NULL corpus digest (NULL-text doc)
      -- would make NOT IN never-true; the engine's anti-join keeps
      -- NULL-digest probes
      AND NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.doc_id % 3 <> 0
          AND md5({_NORM.format(c='c.text')}) = md5({_NORM.format(c='d.text')}))
    """,
)
def q211_bloom_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup with the Bloom membership pre-filter:
    'definitely unseen' rows bypass the corpus anti-join entirely, only
    possible members are verified — output byte-identical to
    dedup.dedup_against's exact mode."""
    from dabstract_spark.operators.bloom import dedup_against_bloom

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 3 == 0)
    seen = docs.filter(F.col("doc_id") % 3 != 0)
    return dedup_against_bloom(new, seen, "doc_id", "text").select("doc_id")


@query(
    "q212_bloom_fpp_eval",
    oracle=f"""
    WITH seen AS (SELECT DISTINCT {_DOC_DIGEST} AS h FROM documents),
    bits AS (
      SELECT DISTINCT {_BLOOM_BIT.format(j='j', k='h')} AS bit
      FROM seen, UNNEST(generate_series(0, 3)) AS t(j)),
    pr AS (
      SELECT 'probe/' || CAST(i AS VARCHAR) AS k
      FROM UNNEST(generate_series(0, 1999)) AS t(i)),
    pb AS (
      SELECT k, {_BLOOM_BIT.format(j='j', k='k')} AS bit
      FROM pr, UNNEST(generate_series(0, 3)) AS t(j)),
    mem AS (
      SELECT pb.k, COUNT(b.bit) = 4 AS hit
      FROM pb LEFT JOIN bits b USING (bit) GROUP BY pb.k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
           CAST(1000000 * SUM(CASE WHEN hit THEN 1 ELSE 0 END) // COUNT(*) AS BIGINT)
             AS fp_ppm
    FROM mem
    """,
)
def q212_bloom_fpp_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality census (the q202 pattern for membership): probe a
    DISJOINT synthetic key set so every hit is a false positive by
    construction; report the observed fp rate and fill — exact
    integers, so the filter's quality curve is oracle-checked, not
    assumed from theory."""
    from dabstract_spark.operators.bloom import bloom_probe, bloom_sketch
    from dabstract_spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents")
    seen = docs.select(F.md5(normalize_text("text")).alias("h")).distinct()
    sk = bloom_sketch(seen, "h").persist()
    probes = spark.range(2000).select(
        F.concat(F.lit("probe/"), F.col("id").cast("string")).alias("k")
    )
    mem = bloom_probe(sk, probes, "k")
    nb = sk.agg(F.count(F.lit(1)).alias("n_bits_set"))
    stats = mem.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("possible_member"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    ).crossJoin(F.broadcast(nb))
    return stats.select(
        "n_probes",
        "n_false_pos",
        F.col("n_bits_set").cast("bigint").alias("n_bits_set"),
        F.expr("1000000 * n_false_pos div n_probes").cast("bigint").alias("fp_ppm"),
    )


# --------------------------------------------------------------------- #
# Winnowing fingerprints (dedup.winnow_fingerprints; Schleimer et al.
# SIGMOD 2003, the MOSS scheme): per window of 4 consecutive 3-gram
# hashes keep the minimum — ~1/window the storage of full shingling
# with the guarantee that any shared run of >= window+k-1 tokens is
# detected. Pure integer arithmetic over the SAME staged token-md5
# pipeline as MinHash, so fingerprints hash-match bit for bit.
# --------------------------------------------------------------------- #
_WINNOW_FP_CTE = f"""
    wtk AS (SELECT doc_id, {{toks}} AS t FROM documents),
    wth AS (SELECT doc_id, {_TH} AS th FROM wtk),
    whs AS (SELECT doc_id, {_HS3} AS hs FROM wth),
    wfp AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(hs) - 3), i -> list_min(hs[i:i+3])))) AS fp
      FROM whs WHERE len(hs) >= 4)"""


@query(
    "q215_winnow_fingerprints",
    oracle="WITH "
    + _WINNOW_FP_CTE.format(toks=_TOKENS.format(c="text"))
    + "\n    SELECT doc_id, fp FROM wfp",
)
def q215_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.winnow_fingerprints(docs, "doc_id", "text", k=3, window=4)


@query(
    "q216_winnow_pairs",
    # df-capped inverted index over the fingerprint table; the cap is
    # the same pre-count semi-join discipline as jaccard_pairs
    oracle="WITH "
    + _WINNOW_FP_CTE.format(toks=_TOKENS.format(c="text"))
    + """,
    cool AS (SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) <= 100),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM wfp a JOIN wfp b USING (fp) JOIN cool USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, n_shared FROM shared WHERE n_shared >= 2""",
)
def q216_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.winnow_pairs(
        docs, "doc_id", "text", k=3, window=4, min_shared=2, max_df=100
    )


# --------------------------------------------------------------------- #
# Importance (quality-weighted Bernoulli) sampling — curation that keeps
# good documents proportionally more often, as ONE scan-fused filter
# with an exact-integer accept test (operators/select.py
# importance_sample): u_ppm·1e6 < quality_ppm·rate_ppm, u from the md5
# prefix. Deterministic and engine-exact, so the kept SET hash-matches.
# --------------------------------------------------------------------- #
@query(
    "q198_importance_sample",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS quality_ppm,
             CAST(('0x' || substr(md5('9:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS u_ppm
      FROM documents)
    SELECT doc_id, quality_ppm
    FROM q WHERE u_ppm * 1000000 < quality_ppm * 800000
    """,
)
def q198_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import importance_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.quality_score_ppm("text").alias("quality_ppm")
    )
    return importance_sample(
        docs, "quality_ppm", rate_ppm=800000, key="doc_id", seed=9
    )


# --------------------------------------------------------------------- #
# Distributed BPE vocabulary training (text.bpe_learn_merges; Sennrich
# et al. 2016): the ONE corpus-scale stage is the pre-token frequency
# count; each of the 5 merge steps then iterates the tiny distinct-word
# symbol table, and only the winning rule row reaches the driver. The
# oracle unrolls the identical 5 fixed steps in SQL (pair counts over
# the delimited symbol strings, argmax with the same (count DESC, left,
# right) tie-break, greedy merge via left-to-right replace) — the whole
# training loop hash-matches, like the k-means (q174) and PageRank
# (q161) fixed-iteration recurrences.
# --------------------------------------------------------------------- #
_BPE_SQL = "'''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'"


def _bpe_stage_sql(n: int) -> str:
    prev = f"w{n-1}"
    return f"""
    pc{n} AS (
      SELECT syms[i] AS wa, syms[i+1] AS wb, SUM(cnt) AS total
      FROM (SELECT string_split(s, ' ') AS syms, cnt FROM {prev}),
           UNNEST(generate_series(1, len(syms) - 1)) AS t(i)
      GROUP BY wa, wb),
    b{n} AS (SELECT wa, wb, total FROM pc{n} ORDER BY total DESC, wa, wb LIMIT 1),
    w{n} AS (
      SELECT replace(s, (SELECT wa || ' ' || wb FROM b{n}),
                        (SELECT substr(wa, 1, length(wa)-1) || substr(wb, 2) FROM b{n})) AS s,
             cnt
      FROM {prev})"""


@query(
    "q199_bpe_vocab",
    oracle=f"""
    WITH wc AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), {_BPE_SQL})) AS w
            FROM documents)
      GROUP BY w),
    w0 AS (
      SELECT chr(31) || array_to_string(regexp_extract_all(w, '(?s).'),
                                        chr(31) || ' ' || chr(31)) || chr(31) AS s,
             cnt
      FROM wc),
    {", ".join(_bpe_stage_sql(i) for i in range(1, 6))}
    SELECT step, substr(wa, 2, length(wa)-2) AS left_sym,
           substr(wb, 2, length(wb)-2) AS right_sym,
           CAST(total AS BIGINT) AS pair_count
    FROM (  SELECT 1 AS step, * FROM b1
      UNION ALL SELECT 2, * FROM b2
      UNION ALL SELECT 3, * FROM b3
      UNION ALL SELECT 4, * FROM b4
      UNION ALL SELECT 5, * FROM b5)
    """,
)
def q199_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = tx.bpe_learn_merges(docs, "text", n_merges=5)
    return out.select(
        "step", "left_sym", "right_sym", "pair_count"
    )


# --------------------------------------------------------------------- #
# BPE ENCODING at corpus scale (text.bpe_encode_counts): apply the 5
# learned merge rules to every document and report exact pre/post token
# budgets — the other half of the tokenizer story (q199 trains, this
# encodes). The encode stage is pure codegen string ops (wrap + 5
# chained greedy replaces), shuffling only the per-doc count aggregate;
# the oracle re-derives the SAME rules (unrolled stages) and applies
# the same nested replaces.
# --------------------------------------------------------------------- #
def _bpe_apply_sql(inner: str, n: int) -> str:
    pat = f"(SELECT wa || ' ' || wb FROM b{n})"
    rep = f"(SELECT substr(wa, 1, length(wa)-1) || substr(wb, 2) FROM b{n})"
    return f"replace({inner}, {pat}, {rep})"


def _bpe_apply_chain() -> str:
    s = "s"
    for n in range(1, 6):
        s = _bpe_apply_sql(s, n)
    return s


@query(
    "q200_bpe_encode",
    oracle=f"""
    WITH wc AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), {_BPE_SQL})) AS w
            FROM documents)
      GROUP BY w),
    w0 AS (
      SELECT chr(31) || array_to_string(regexp_extract_all(w, '(?s).'),
                                        chr(31) || ' ' || chr(31)) || chr(31) AS s,
             cnt
      FROM wc),
    {", ".join(_bpe_stage_sql(i) for i in range(1, 6))},
    enc AS (
      SELECT doc_id,
             chr(31) || array_to_string(regexp_extract_all(w, '(?s).'),
                                        chr(31) || ' ' || chr(31)) || chr(31) AS s
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), {_BPE_SQL})) AS w
            FROM documents)),
    app AS (SELECT doc_id, {_bpe_apply_chain()} AS s2 FROM enc)
    SELECT doc_id, COUNT(*) AS n_pre_tokens,
           CAST(SUM(len(string_split(s2, ' '))) AS BIGINT) AS n_bpe_tokens
    FROM app GROUP BY doc_id
    """,
)
def q200_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rules = [
        (r.step, r.left_sym, r.right_sym, r.pair_count)
        for r in tx.bpe_learn_merges(docs, "text", n_merges=5).collect()
    ]
    return tx.bpe_encode_counts(docs, "doc_id", "text", rules)


# --------------------------------------------------------------------- #
# MinHash estimator-quality evaluation (the q167-style eval for the
# dedup sketch): for every LSH candidate pair, compare the signature
# Jaccard estimate (matching positions / 16, exact integer ppm) with
# the TRUE shingle-set Jaccard — how practitioners pick n_hashes/bands.
# Everything integer: est = matches·62500 ppm, exact = 1e6·|∩| div |∪|.
# --------------------------------------------------------------------- #
@query(
    "q202_minhash_estimate_eval",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sigp AS (
           SELECT doc_id, list_distinct(hs) AS hsd, {_minhash_list(16)} AS mh
           FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sigp, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM capped a JOIN capped b USING (band_id, band_hash)
           WHERE a.doc_id < b.doc_id),
         scored AS (
           SELECT p.id_a, p.id_b,
                  len(list_filter(generate_series(1, 16), i -> a.mh[i] = b.mh[i])) * 62500 AS est_ppm,
                  1000000 * len(list_intersect(a.hsd, b.hsd))
                    // (len(a.hsd) + len(b.hsd) - len(list_intersect(a.hsd, b.hsd))) AS exact_ppm
           FROM pairs p
           JOIN sigp a ON a.doc_id = p.id_a
           JOIN sigp b ON b.doc_id = p.id_b)
    SELECT id_a, id_b, CAST(est_ppm AS BIGINT) AS est_ppm,
           CAST(exact_ppm AS BIGINT) AS exact_ppm,
           CAST(abs(est_ppm - exact_ppm) AS BIGINT) AS err_ppm
    FROM scored
    """,
)
def q202_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    prof = dd.minhash_profile(docs, "doc_id", "text", n_hashes=16, k=3)
    pairs = dd.minhash_candidate_pairs(
        docs, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    )
    a = prof.select(
        F.col("doc_id").alias("id_a"), F.col("hs").alias("__hsa"), F.col("sig").alias("__sa")
    )
    b = prof.select(
        F.col("doc_id").alias("id_b"), F.col("hs").alias("__hsb"), F.col("sig").alias("__sb")
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    matches = F.size(
        F.filter(F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y), lambda v: v)
    )
    inter = F.size(F.array_intersect(F.col("__hsa"), F.col("__hsb"))).cast("bigint")
    staged = joined.select(
        "id_a",
        "id_b",
        (matches.cast("bigint") * F.lit(62500)).alias("est_ppm"),
        (F.lit(1000000) * inter).alias("__num"),
        (
            F.size(F.col("__hsa")).cast("bigint")
            + F.size(F.col("__hsb")).cast("bigint")
            - inter
        ).alias("__den"),
    )
    return staged.select(
        "id_a",
        "id_b",
        "est_ppm",
        F.expr("__num div __den").cast("bigint").alias("exact_ppm"),
        F.abs(F.col("est_ppm") - F.expr("__num div __den")).cast("bigint").alias("err_ppm"),
    )


# --------------------------------------------------------------------- #
# Exact grouped percentiles (p50/p95/p99 latency-dashboard shape) by
# aggregate-first cumulative selection: groupBy (group, value) shrinks
# to the distinct-value table, then the two-level
# `select.grouped_weighted_quantiles` cumsum over THAT picks "smallest
# v with 100·cum >= p·n" — integer comparisons only, so the exact
# percentile is engine-identical (approx_percentile is not), and no
# per-group window ever holds a whole group's distinct values (for
# continuous latencies that table is O(group rows) and the group keys
# are low-cardinality — the oracle's naive cumsum serializes ~n/5 rows
# into one task at 100 TB). Same machinery as the weighted median
# (q194), widened to a percentile vector in one pass.
# --------------------------------------------------------------------- #
@query(
    "q203_group_percentiles",
    oracle="""
    WITH c AS (
      -- percentiles are over NON-NULL values (the engine filters the
      -- same way): NULL rows would inflate n and shift every rank
      SELECT event_type,
             CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
             COUNT(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY event_type, v),
    cum AS (
      SELECT event_type, v,
             SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM c)
    SELECT event_type,
           MIN(CASE WHEN 100 * cum >= 50 * n THEN v END) AS p50_micro,
           MIN(CASE WHEN 100 * cum >= 95 * n THEN v END) AS p95_micro,
           MIN(CASE WHEN 100 * cum >= 99 * n THEN v END) AS p99_micro
    FROM cum GROUP BY event_type
    """,
)
def q203_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import grouped_weighted_quantiles

    ev = _t(spark, sf_dir, "events")
    vm = (
        (F.round(F.col("value"), 6).cast("decimal(18,6)") * F.lit(1000000))
        .cast("bigint")
        .alias("v")
    )
    # percentiles over NON-NULL values only (oracle filters identically)
    counts = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", vm)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # 100·cum >= p·n; a handful of event types -> hint 16
    return grouped_weighted_quantiles(
        counts,
        "event_type",
        "v",
        "c",
        [("p50_micro", 50, 100), ("p95_micro", 95, 100), ("p99_micro", 99, 100)],
        n_groups_hint=16,
    )


# --------------------------------------------------------------------- #
# N-gram decontamination (dedup.decontaminate): DROP every train doc
# sharing a distinct 5-shingle with the test split — the enforcement
# twin of the q113 audit, shingle-key joins only, never doc×doc.
# --------------------------------------------------------------------- #
@query(
    "q204_decontaminate",
    oracle=f"""
    WITH sh_tr AS (
      SELECT doc_id, unnest(list_distinct({_shingles('text', 5)})) AS sh
      FROM documents WHERE doc_id % 5 <> 0),
    sh_te AS (
      SELECT DISTINCT unnest(list_distinct({_shingles('text', 5)})) AS sh
      FROM documents WHERE doc_id % 5 = 0),
    dirty AS (SELECT DISTINCT doc_id FROM sh_tr JOIN sh_te USING (sh))
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def q204_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    clean = dd.decontaminate(train, test, "doc_id", "text", k=5)
    return clean.select("doc_id", "lang")


# --------------------------------------------------------------------- #
# Tokenizer fertility per language (post-BPE tokens per pre-token, the
# metric tokenizer teams watch per locale): q200's encode joined back
# to lang, aggregated in exact integer ppm — mean fertility =
# 1e6·Σpost div Σpre per lang.
# --------------------------------------------------------------------- #
@query(
    "q205_tokenizer_fertility",
    oracle=f"""
    WITH wc AS (
      SELECT w, COUNT(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), {_BPE_SQL})) AS w
            FROM documents)
      GROUP BY w),
    w0 AS (
      SELECT chr(31) || array_to_string(regexp_extract_all(w, '(?s).'),
                                        chr(31) || ' ' || chr(31)) || chr(31) AS s,
             cnt
      FROM wc),
    {", ".join(_bpe_stage_sql(i) for i in range(1, 6))},
    enc AS (
      SELECT doc_id,
             chr(31) || array_to_string(regexp_extract_all(w, '(?s).'),
                                        chr(31) || ' ' || chr(31)) || chr(31) AS s
      FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), {_BPE_SQL})) AS w
            FROM documents)),
    app AS (SELECT doc_id, {_bpe_apply_chain()} AS s2 FROM enc),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS pre, SUM(len(string_split(s2, ' '))) AS post
      FROM app GROUP BY doc_id)
    SELECT d.lang,
           CAST(SUM(p.pre) AS BIGINT) AS pre_tokens,
           CAST(SUM(p.post) AS BIGINT) AS post_tokens,
           CAST(1000000 * SUM(p.post) // SUM(p.pre) AS BIGINT) AS fertility_ppm
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def q205_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rules = [
        (r.step, r.left_sym, r.right_sym, r.pair_count)
        for r in tx.bpe_learn_merges(docs, "text", n_merges=5).collect()
    ]
    per_doc = tx.bpe_encode_counts(docs, "doc_id", "text", rules)
    joined = per_doc.join(docs.select("doc_id", "lang"), "doc_id")
    agg = joined.groupBy("lang").agg(
        F.sum("n_pre_tokens").alias("pre_tokens"),
        F.sum("n_bpe_tokens").alias("post_tokens"),
    )
    return agg.select(
        "lang",
        "pre_tokens",
        "post_tokens",
        F.expr("(1000000 * post_tokens) div pre_tokens").cast("bigint").alias("fertility_ppm"),
    )


# --------------------------------------------------------------------- #
# Triangle census of the near-dup candidate graph: triangles + open
# wedges + global closure ratio (integer ppm) — the structural signal
# that tells a curation team whether candidate pairs form tight
# duplicate cliques (high closure: boilerplate families) or loose
# chains (low closure: LSH noise). Edges are canonical (a<b), so each
# triangle {x<y<z} is counted exactly once by joining (x,y)+(x,z) with
# (y,z); wedge count per apex is C(deg,2) over canonical neighbors.
# --------------------------------------------------------------------- #
@query(
    "q206_triangle_census",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         e AS (
           SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
           FROM capped a JOIN capped b USING (band_id, band_hash)
           WHERE a.doc_id < b.doc_id),
         tri AS (
           SELECT COUNT(*) AS n_triangles
           FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                     JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         wed AS (
           SELECT COALESCE(SUM(d * (d - 1) // 2), 0) AS n_wedges
           FROM (SELECT COUNT(*) AS d
                 FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
                 GROUP BY v))
    SELECT CAST(t.n_triangles AS BIGINT) AS n_triangles,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           CAST(CASE WHEN w.n_wedges > 0
                     THEN 3000000 * t.n_triangles // w.n_wedges
                     ELSE 0 END AS BIGINT) AS closure_ppm
    FROM tri t, wed w
    """,
)
def q206_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    e = dd.minhash_candidate_pairs(
        docs, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    e = e.localCheckpoint(eager=False)
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    tri = (
        e1.join(e2, "x")
        .filter(F.col("z") > F.col("y"))
        .join(e3, ["y", "z"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wed = deg.agg(
        F.coalesce(
            F.sum(F.expr("d * (d - 1) div 2")), F.lit(0).cast("bigint")
        ).alias("n_wedges")
    )
    out = tri.crossJoin(wed)
    return out.select(
        F.col("n_triangles").cast("bigint"),
        F.col("n_wedges").cast("bigint"),
        F.when(
            F.col("n_wedges") > 0, F.expr("(3000000 * n_triangles) div n_wedges")
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("closure_ppm"),
    )


# --------------------------------------------------------------------- #
# Duplicate-cluster size histogram — the one-glance duplication profile
# (how much of the corpus sits in families of size 1, 2, 3…): q84's
# clusters aggregated twice (cluster → size, size → frequency), all
# map-side-combinable groupBys.
# --------------------------------------------------------------------- #
@query(
    "q207_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE
         tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM capped a JOIN capped b USING (band_id, band_hash)
           WHERE a.doc_id < b.doc_id),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT doc_id AS id, doc_id AS comp FROM documents
           UNION
           SELECT e.dst AS id, r.comp
           FROM reach r JOIN edges e ON e.src = r.id),
         clus AS (SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
         sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM clus GROUP BY cluster_id)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def q207_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clusters = dd.minhash_dedup_clusters(
        docs, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    )
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.groupBy(F.col("sz").cast("bigint").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
    )


# --------------------------------------------------------------------- #
# Incremental view maintenance (quality.maintain_rollup): apply a CDC
# insert/delete delta to a materialized GROUP BY rollup without
# rescanning the base — the delta aggregates to |delta groups| rows and
# joins the |groups|-sized view, so a 100 TB base is never touched. The
# maintained view must equal a full recompute over (base − deletes ∪
# inserts); base/delta are carved deterministically from orders.
# --------------------------------------------------------------------- #
@query(
    "q217_incremental_rollup",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS cnt,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_total
    FROM orders
    WHERE (o_orderkey % 10 >= 8) OR (o_orderkey % 13 <> 0)
    GROUP BY o_custkey
    """,
)
def q217_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.quality import maintain_rollup

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    view = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("total").alias("sum_total")
    )
    delta = (
        orders.filter(F.col("o_orderkey") % 10 >= 8)
        .withColumn("op", F.lit("insert"))
        .unionByName(
            base.filter(F.col("o_orderkey") % 13 == 0).withColumn(
                "op", F.lit("delete")
            )
        )
        .select("op", "o_custkey", F.col("total").alias("total"))
    )
    out = maintain_rollup(view, delta, ["o_custkey"], ["total"])
    return out.select(
        "o_custkey", F.col("cnt").cast("bigint").alias("cnt"), "sum_total"
    )


# --------------------------------------------------------------------- #
# Streaming incremental view maintenance (streaming/ops.
# rollup_maintain_stream): the CDC delta of q217 arrives as a file
# stream in multiple micro-batches; each batch appends its signed
# per-group partial to the sink, and the live view is the base rollup
# plus the summed partials (quality.apply_rollup_delta). Signed deltas
# are commutative/associative, so the drained view equals the batch
# recompute regardless of batch boundaries — which is exactly what the
# oracle checks (same SQL as q217, different execution path).
# --------------------------------------------------------------------- #
@query(
    "q218_stream_rollup",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS cnt,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_total
    FROM orders
    WHERE (o_orderkey % 10 >= 8) OR (o_orderkey % 13 <> 0)
    GROUP BY o_custkey
    """,
)
def q218_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.operators.quality import apply_rollup_delta
    from dabstract_spark.streaming.ops import rollup_maintain_stream, stream_events

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("total"),
    )
    base = orders.filter(F.col("o_orderkey") % 10 < 8)
    view = base.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("total").alias("sum_total")
    )
    delta = (
        orders.filter(F.col("o_orderkey") % 10 >= 8)
        .withColumn("op", F.lit("insert"))
        .unionByName(
            base.filter(F.col("o_orderkey") % 13 == 0).withColumn(
                "op", F.lit("delete")
            )
        )
        .select("op", "o_custkey", "total")
    )
    tmp = scratch_dir("sparkdab_ivm_")
    # 4 files + maxFilesPerTrigger=1 forces a multi-batch drain, so the
    # boundary-independence claim is actually exercised
    delta.repartition(4).write.parquet(f"{tmp}/delta")
    src = stream_events(spark, f"{tmp}/delta", max_files_per_trigger=1)
    partials = rollup_maintain_stream(
        src, ["o_custkey"], ["total"], f"{tmp}/out", f"{tmp}/ckpt"
    )
    merged = partials.groupBy("o_custkey").agg(
        F.sum("dcnt").alias("dcnt"), F.sum("d_total").alias("d_total")
    )
    out = apply_rollup_delta(view, merged, ["o_custkey"], ["total"])
    return out.select(
        "o_custkey", F.col("cnt").cast("bigint").alias("cnt"), "sum_total"
    )


# --------------------------------------------------------------------- #
# PSI drift monitor (quality.psi_drift): Population Stability Index of
# the click-events value distribution against purchase events over
# frozen [0,500)/10 reference bins — the snapshot-to-snapshot drift
# check a training pipeline runs before retraining. Each side reduces
# map-side to <= n_buckets rows; nothing data-sized shuffles.
# --------------------------------------------------------------------- #
@query(
    "q220_psi_drift",
    oracle="""
    WITH a AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - 0) / 50.0) AS INT))) AS bucket
      FROM events WHERE event_type = 'click' AND value IS NOT NULL),
    b AS (
      SELECT LEAST(9, GREATEST(0, CAST(FLOOR((value - 0) / 50.0) AS INT))) AS bucket
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
    ca AS (SELECT bucket, COUNT(*) AS cnt_a FROM a GROUP BY bucket),
    cb AS (SELECT bucket, COUNT(*) AS cnt_b FROM b GROUP BY bucket),
    spine AS (SELECT CAST(x AS INT) AS bucket FROM UNNEST(generate_series(0, 9)) t(x)),
    j AS (
      SELECT s.bucket, COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
      FROM spine s LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)),
    t AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM j)
    SELECT bucket, cnt_a, cnt_b,
           ROUND((GREATEST(cnt_a / ta, 1e-6) - GREATEST(cnt_b / tb, 1e-6))
                 * LN(GREATEST(cnt_a / ta, 1e-6) / GREATEST(cnt_b / tb, 1e-6)), 6)
           + 0.0 AS psi_contrib
    FROM j, t
    """,
)
def q220_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.quality import psi_drift

    events = _t(spark, sf_dir, "events")
    out = psi_drift(
        events.filter(F.col("event_type") == "click"),
        events.filter(F.col("event_type") == "purchase"),
        "value",
        lo=0.0,
        hi=500.0,
        n_buckets=10,
    )
    return out.select(
        "bucket", "cnt_a", "cnt_b", (F.col("psi_contrib") + F.lit(0.0)).alias("psi_contrib")
    )


# --------------------------------------------------------------------- #
# FLAGSHIP COMPOSITION: the full pretraining-corpus curation pipeline —
# quality + language gating, exact dedup, MinHash near-dup
# canonicalization (capped LSH, quality-top-1 per cluster), and
# GPT-3-style n-gram decontamination against a held-out test split —
# composed from the SAME operators the individual queries check, and
# hash-verified end to end against one DuckDB WITH-chain built from
# those queries' oracles. Every stage is the capped/scale-safe variant:
# nothing in the composition adds a shuffle the stages don't already
# have. (A production run materializes between stages — prepare_feat —
# which is why the survivor set is persisted at its reuse point.)
# --------------------------------------------------------------------- #
_Q_SQL = f"""((5 * least(length(text)::BIGINT * 2500, 1000000)
             + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                          // greatest(len({_T}), 1)) * 5, 1000000)
             + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                          // greatest(length(text), 1)) * 10, 1000000))) // 10)
           / 1000000.0::DOUBLE"""


# ONE definition of the curation WITH-chain serves q221 and the
# q228 loader-side composition built on top of it — a fix to any
# curation stage cannot diverge between their gates.
_PRETRAIN_CHAIN = f"""
    WITH RECURSIVE
         scored AS (
           SELECT doc_id, source, text, {_Q_SQL} AS quality, {_EN_CASE} AS lang_pred
           FROM documents),
         gated AS (
           SELECT * FROM scored WHERE quality >= 0.55 AND lang_pred <> 'qy'),
         surv1 AS (
           SELECT * FROM gated
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY COALESCE(md5({_NORM.format(c='text')}),
                                   'null:' || CAST(doc_id AS VARCHAR))
             ORDER BY doc_id) = 1),
         tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM surv1),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         capped AS (
           SELECT doc_id, band_id, band_hash FROM bands
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         pairs AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM capped a JOIN capped b USING (band_id, band_hash)
           WHERE a.doc_id < b.doc_id),
         edges AS (
           SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT doc_id AS id, doc_id AS comp FROM surv1
           UNION
           SELECT e.dst AS id, r.comp
           FROM reach r JOIN edges e ON e.src = r.id),
         clusters AS (SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id),
         canon AS (
           SELECT s.doc_id, s.source, s.text, s.quality, s.lang_pred
           FROM surv1 s JOIN clusters c USING (doc_id)
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY c.cluster_id ORDER BY s.quality DESC, s.doc_id) = 1),
         train AS (SELECT * FROM canon WHERE doc_id % 5 <> 0),
         sh_tr AS (
           SELECT doc_id, unnest(list_distinct({_shingles('text', 5)})) AS sh
           FROM train),
         sh_te AS (
           SELECT DISTINCT unnest(list_distinct({_shingles('text', 5)})) AS sh
           FROM documents WHERE doc_id % 5 = 0),
         dirty AS (SELECT DISTINCT doc_id FROM sh_tr JOIN sh_te USING (sh)),
         clean AS (
           SELECT doc_id, source, lang_pred, quality,
                  CAST(len({_T}) AS INT) AS n_tokens
           FROM train
           WHERE doc_id NOT IN (SELECT doc_id FROM dirty))"""


@query(
    "q221_pretrain_pipeline",
    oracle=_PRETRAIN_CHAIN + "\n    SELECT * FROM clean",
)
def q221_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        tx.quality_score("text").alias("quality"),
        tx.lang_id("text").alias("lang_pred"),
    )
    gated = scored.filter((F.col("quality") >= 0.55) & (F.col("lang_pred") != "qy"))
    # LAZY localCheckpoint instead of persist (r13, the q228 discipline,
    # guide §3.3/§5): `surv` is referenced three times (pair generation,
    # the quality join, the train semi-join) — persist shared the DATA
    # but kept the full curation lineage in every downstream plan, so
    # each action re-planned the whole tree and AQE re-materialized its
    # stages (31 jobs / 6.4 s for this query). The checkpoint truncates
    # the plan at the survivor boundary; the first downstream job fuses
    # the materialization.
    surv = dd.exact_dedup(gated, "doc_id", "text").localCheckpoint(eager=False)
    clusters = dd.minhash_dedup_clusters(
        surv, "doc_id", "text", n_hashes=16, bands=4, k=3, max_bucket=64
    )
    cscored = clusters.join(surv.select("doc_id", "quality"), "doc_id")
    # top-1 per cluster as ONE hash aggregate (r13, guide §2.3/§2.4):
    # max_by over the lexicographic key struct(quality, -doc_id) IS
    # row_number()=1 under [quality DESC, doc_id ASC] (doc_id unique, so
    # the key is total). The window form paid Exchange+Sort twice
    # (bucketed pre-rank + merge rank); the aggregate pays one Exchange
    # carrying ONE row per (cluster, map partition) after partial
    # aggregation — strictly less shuffle at any scale, no giant-group
    # sort task.
    canon_ids = cscored.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(quality, -doc_id)) AS doc_id")
    ).select("doc_id")
    # decontaminate references train twice (shingle explode + anti-join);
    # the checkpoint stops the clustering pipeline from running twice —
    # the same stage boundary a production run would materialize
    train = (
        surv.join(canon_ids, "doc_id", "left_semi")
        .filter(F.col("doc_id") % 5 != 0)
        .localCheckpoint(eager=False)
    )
    test = docs.filter(F.col("doc_id") % 5 == 0)
    clean = dd.decontaminate(train, test, "doc_id", "text", k=5)
    return clean.select(
        "doc_id",
        "source",
        "lang_pred",
        "quality",
        F.size(tx.tokens("text")).cast("int").alias("n_tokens"),
    )


# --------------------------------------------------------------------- #
# Deterministic global training-order shuffle + round-robin shard
# assignment (the "shuffle the corpus, then write shard files" step in
# front of packing/export). Distributed via the 256-bucket md5-prefix
# offset table (core.with_row_id) — no global window, no driver count.
# --------------------------------------------------------------------- #
@query(
    "q222_training_order",
    oracle="""
    SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (
                  ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                AS BIGINT) AS pos,
           CAST((ROW_NUMBER() OVER (
                  ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 8
                AS INT) AS shard
    FROM documents
    """,
)
def q222_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import training_order

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return training_order(docs, "doc_id", seed=7, n_shards=8).select(
        "doc_id", "source", "pos", "shard"
    )


# --------------------------------------------------------------------- #
# Within-document duplicate-line removal (RefinedWeb-style boilerplate
# cleanup — nav bars / footers repeated inside one page). Documents are
# reshaped into deterministic 5-line form with two injected repeats so
# the rule demonstrably fires; first occurrence wins.
# --------------------------------------------------------------------- #
@query(
    "q223_dedup_lines",
    oracle="""
    WITH lined AS (
      -- list_filter + array_to_string mirrors Spark concat_ws, which
      -- SKIPS NULL parts (a NULL-text doc still yields the 2 footers)
      SELECT doc_id,
             array_to_string(list_filter(
               [substr(text, 1, 40),
                'footer: all rights reserved',
                substr(text, 41, 40),
                'footer: all rights reserved',
                substr(text, 1, 40)],
               x -> x IS NOT NULL), chr(10)) AS text
      FROM documents),
    lx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
    kept AS (
      SELECT doc_id, len(ls) AS n_lines,
             list_filter(ls, (ln, i) -> list_position(ls, ln) = i) AS k
      FROM lx)
    SELECT doc_id, CAST(n_lines AS INT) AS n_lines, CAST(len(k) AS INT) AS n_kept,
           md5(array_to_string(k, chr(10))) AS cleaned_md5
    FROM kept
    """,
)
def q223_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.lit("footer: all rights reserved"),
            F.substring("text", 41, 40),
            F.lit("footer: all rights reserved"),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    return tx.dedup_lines_df(lined, "doc_id", "text")


# --------------------------------------------------------------------- #
# Corpus-level source-overlap matrix: estimated Jaccard between each
# pair of sources via MERGED MinHash signatures (union signature =
# elementwise min) — one data-sized scan, sketch-sized pair join, never
# doc-vs-doc. Same signature recipe as the per-doc LSH family. ONE
# oracle definition serves both the batch query (q224) and its
# streaming twin (q225) — a fix to the overlap recipe cannot diverge
# between their gates.
# --------------------------------------------------------------------- #
_OVERLAP_ORACLE = f"""
    WITH tk AS (SELECT doc_id, source, {_T} AS t FROM documents),
         ths AS (SELECT doc_id, source, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, source, {_HS3} AS hs FROM ths),
         sig AS (SELECT source, {_minhash_list(16)} AS mh
                 FROM hs2 WHERE len(hs) > 0),
         comp AS (SELECT source, i, MIN(mh[i]) AS mh
                  FROM sig, UNNEST(generate_series(1, 16)) AS t(i)
                  GROUP BY source, i),
         ag AS (SELECT a.source AS group_a, b.source AS group_b,
                       CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS INT)
                         AS n_agree
                FROM comp a JOIN comp b ON a.i = b.i AND a.source < b.source
                GROUP BY 1, 2)
    SELECT group_a, group_b, n_agree,
           CAST(n_agree AS DOUBLE) / 16.0 AS jaccard_est
    FROM ag
    """


@query(
    "q224_source_overlap",
    oracle=_OVERLAP_ORACLE,
)
def q224_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.source_overlap(docs, "source", "doc_id", "text", n_hashes=16, k=3)


# --------------------------------------------------------------------- #
# Streaming merged-MinHash maintenance (streaming/ops.minhash_sigs_stream):
# each document micro-batch appends its PARTIAL per-source signature
# (elementwise mins) to the sink; the live source-overlap matrix is
# merge + sketch self-join — an online corpus-overlap monitor that never
# rescans past documents. Elementwise min is idempotent/commutative, so
# a 4-batch drain (maxFilesPerTrigger=1) hash-matches the BATCH q224
# recompute exactly — same oracle SQL.
# --------------------------------------------------------------------- #
@query(
    "q225_stream_source_overlap",
    oracle=_OVERLAP_ORACLE,
)
def q225_stream_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.operators.dedup import (
        merge_group_signatures,
        overlap_from_signatures,
    )
    from dabstract_spark.streaming.ops import minhash_sigs_stream, stream_events

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tmp = scratch_dir("sparkdab_mhs_")
    # 4 files + maxFilesPerTrigger=1 forces a multi-batch drain, so the
    # boundary-independence claim is actually exercised
    docs.repartition(4).write.parquet(f"{tmp}/docs")
    src = stream_events(spark, f"{tmp}/docs", max_files_per_trigger=1)
    partials = minhash_sigs_stream(
        src, "source", "doc_id", "text", f"{tmp}/out", f"{tmp}/ckpt"
    )
    return overlap_from_signatures(merge_group_signatures(partials))


# --------------------------------------------------------------------- #
# Append-only training-order extension: new docs get positions AFTER the
# ordered base corpus (offset = one-row broadcast aggregate) without
# repositioning a single base row — already-written shard files stay
# valid as the corpus grows, the same incremental discipline as the
# sketch/rollup maintenance family.
# --------------------------------------------------------------------- #
@query(
    "q226_extend_order",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (
                    ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                  AS BIGINT) AS pos
      FROM documents WHERE doc_id % 4 <> 0),
    mx AS (SELECT MAX(pos) + 1 AS off FROM base),
    newp AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (
                    ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 + off
                  AS BIGINT) AS pos
      FROM documents, mx WHERE doc_id % 4 = 0),
    u AS (SELECT * FROM base UNION ALL SELECT * FROM newp)
    SELECT doc_id, pos, CAST(pos % 8 AS INT) AS shard FROM u
    """,
)
def q226_extend_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import extend_training_order, training_order

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    base = training_order(docs.filter(F.col("doc_id") % 4 != 0), "doc_id", seed=7)
    new = extend_training_order(
        base, docs.filter(F.col("doc_id") % 4 == 0), "doc_id", seed=7
    )
    return base.unionByName(new).select(
        "doc_id", "pos", (F.col("pos") % 8).cast("int").alias("shard")
    )


# --------------------------------------------------------------------- #
# Packed-batch manifest (packing.chunk_manifest): per context window,
# which documents occupy it and at which within-window token range —
# the block-diagonal attention-mask / per-doc loss-mask metadata of a
# packed pretraining loader. Pure arithmetic over sequence_pack's
# offsets + one output-sized explode (n_chunks rows per doc).
# --------------------------------------------------------------------- #
@query(
    "q227_chunk_manifest",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cend
      FROM toks),
    p AS (
      SELECT doc_id, n_tokens, cend - n_tokens AS s,
             CAST(floor((cend - n_tokens) / 2048.0) AS BIGINT) AS fc,
             CASE WHEN n_tokens > 0 THEN CAST(floor((cend - 1) / 2048.0) AS BIGINT)
                  ELSE CAST(floor((cend - n_tokens) / 2048.0) AS BIGINT) END AS lc
      FROM c)
    SELECT doc_id, chunk,
           CAST(GREATEST(s - chunk * 2048, 0) AS INT) AS seg_start,
           CAST(LEAST(s + n_tokens, (chunk + 1) * 2048) - chunk * 2048 AS INT) AS seg_end
    FROM p, UNNEST(generate_series(fc, lc)) AS t(chunk)
    """,
)
def q227_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.packing import chunk_manifest, sequence_pack

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    packed = sequence_pack(
        docs.withColumn("__tok", tx.bpe_token_count("text")),
        "doc_id",
        "__tok",
        capacity=2048,
        block_size=64,
    )
    return chunk_manifest(packed, "doc_id", capacity=2048)


# --------------------------------------------------------------------- #
# FLAGSHIP PART 2 — the loader side: the q221-curated corpus is given a
# deterministic global training order, laid out into 512-token context
# windows (distributed block prefix sum), and rendered as the
# per-window attention-mask manifest — raw corpus to packed-batch
# metadata in ONE hash-checked composition (curation chain shared
# verbatim with q221's oracle via _PRETRAIN_CHAIN).
# --------------------------------------------------------------------- #
@query(
    "q228_curate_pack_pipeline",
    oracle=_PRETRAIN_CHAIN
    + """,
         ord1 AS (
           SELECT doc_id, n_tokens,
                  CAST(ROW_NUMBER() OVER (
                         ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                       AS BIGINT) AS pos
           FROM clean),
         c2 AS (
           SELECT doc_id, n_tokens, pos,
                  SUM(CAST(n_tokens AS BIGINT))
                    OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cend
           FROM ord1),
         p2 AS (
           SELECT doc_id, n_tokens, pos, cend - n_tokens AS s,
                  CAST(floor((cend - n_tokens) / 512.0) AS BIGINT) AS fc,
                  CASE WHEN n_tokens > 0 THEN CAST(floor((cend - 1) / 512.0) AS BIGINT)
                       ELSE CAST(floor((cend - n_tokens) / 512.0) AS BIGINT) END AS lc
           FROM c2)
    SELECT doc_id, pos, chunk,
           CAST(GREATEST(s - chunk * 512, 0) AS INT) AS seg_start,
           CAST(LEAST(s + n_tokens, (chunk + 1) * 512) - chunk * 512 AS INT) AS seg_end
    FROM p2, UNNEST(generate_series(fc, lc)) AS t(chunk)
    """,
)
def q228_curate_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.packing import chunk_manifest, sequence_pack
    from dabstract_spark.operators.select import training_order

    # stage boundaries (r12, guide §3.3/§5): `clean` is referenced twice
    # by the row-id builder and `ordered` three times (pack internals +
    # the final join) — without a cut, each reference re-executes the
    # whole curation tree above q221's persists (the decontaminate
    # anti-join included), measured 159 AQE stage-jobs / 18.8 s warm for
    # this query vs 42 jobs / 6.0 s with the two checkpoints. Both
    # tables are survivor-sized (the curated corpus a production pack
    # run would materialize anyway), and the checkpoints are LAZY so
    # the first downstream job fuses the materialization.
    clean = (
        q221_pretrain_pipeline(spark, sf_dir)
        .select("doc_id", "n_tokens")
        .localCheckpoint(eager=False)
    )
    ordered = training_order(clean, "doc_id", seed=7).localCheckpoint(eager=False)
    packed = sequence_pack(ordered, "pos", "n_tokens", capacity=512, block_size=64)
    return chunk_manifest(packed, "doc_id", capacity=512).join(
        ordered.select("doc_id", "pos"), "doc_id"
    ).select("doc_id", "pos", "chunk", "seg_start", "seg_end")


# --------------------------------------------------------------------- #
# Re-aggregatable equi-width histogram sketch (operators/sketches.py) —
# the QUANTILE member of the sketch family (CMS frequency / Bloom
# membership / HLL distinct): per-partition partial histograms persist
# as tiny (group, bin, cnt) tables, any rollup is merge-by-sum, and
# quantile extraction touches only the |groups|x128-row sketch. The
# query builds partials per (event_type, event_id % 4) as a pipeline
# would per file-partition, merges the partition axis away, estimates
# p50/p95/p99, and joins the exact discrete quantiles (the grouped-
# percentile recipe) to certify the one-bin-width error bound.
# --------------------------------------------------------------------- #
_HIST_W = 4_000_000  # 4.0-unit bins x 128 bins covers [0, 512)


@query(
    "q229_hist_quantile_sketch",
    oracle=f"""
    WITH vm AS (
      -- NON-NULL values only (q203's convention — the engine filters
      -- identically before sketching)
      SELECT event_type, event_id % 4 AS part,
             CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    partials AS (
      SELECT event_type, part,
             CAST(LEAST(GREATEST(floor(v / {_HIST_W}.0), 0), 127) AS INT) AS bin,
             COUNT(*) AS cnt
      FROM vm GROUP BY event_type, part, bin),
    merged AS (
      SELECT event_type, bin, SUM(cnt) AS cnt FROM partials
      GROUP BY event_type, bin),
    bcum AS (
      SELECT event_type, bin,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM merged),
    est AS (
      SELECT event_type,
             MIN(CASE WHEN 100 * cum >= 50 * n THEN bin END) * {_HIST_W} AS p50_lo_micro,
             MIN(CASE WHEN 100 * cum >= 95 * n THEN bin END) * {_HIST_W} AS p95_lo_micro,
             MIN(CASE WHEN 100 * cum >= 99 * n THEN bin END) * {_HIST_W} AS p99_lo_micro
      FROM bcum GROUP BY event_type),
    vc AS (
      SELECT event_type, v, COUNT(*) AS c FROM vm GROUP BY event_type, v),
    vcum AS (
      SELECT event_type, v,
             SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS n
      FROM vc),
    exact AS (
      SELECT event_type,
             MIN(CASE WHEN 100 * cum >= 50 * n THEN v END) AS p50_micro,
             MIN(CASE WHEN 100 * cum >= 95 * n THEN v END) AS p95_micro,
             MIN(CASE WHEN 100 * cum >= 99 * n THEN v END) AS p99_micro
      FROM vcum GROUP BY event_type)
    SELECT e.event_type,
           p50_lo_micro, p50_micro,
           p50_micro - p50_lo_micro BETWEEN 0 AND {_HIST_W - 1} AS p50_ok,
           p95_lo_micro, p95_micro,
           p95_micro - p95_lo_micro BETWEEN 0 AND {_HIST_W - 1} AS p95_ok,
           p99_lo_micro, p99_micro,
           p99_micro - p99_lo_micro BETWEEN 0 AND {_HIST_W - 1} AS p99_ok
    FROM est e JOIN exact x USING (event_type)
    """,
)
def q229_hist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators import sketches as sk

    evd = _t(spark, sf_dir, "events")
    vm = (
        (F.round(F.col("value"), 6).cast("decimal(18,6)") * F.lit(1000000))
        .cast("bigint")
        .alias("v")
    )
    tagged = evd.filter(F.col("value").isNotNull()).select(
        "event_type", (F.col("event_id") % 4).alias("part"), vm
    )
    # stage 1: partial histograms a pipeline would persist per partition
    partials = sk.hist_sketch(
        tagged, "v", group_cols=("event_type", "part"), width_micro=_HIST_W, bins=128
    )
    # stage 2: merge-only rollup — the partition axis collapses by sum
    merged = sk.hist_merge(partials, group_cols=("event_type",))
    est = sk.hist_quantiles(
        merged, (50, 95, 99), group_cols=("event_type",), width_micro=_HIST_W
    )
    exact = q203_group_percentiles(spark, sf_dir)
    out = est.join(exact, "event_type")
    cols = [F.col("event_type")]
    for p in (50, 95, 99):
        lo, ex = F.col(f"p{p}_lo_micro"), F.col(f"p{p}_micro")
        cols += [lo, ex, ((ex - lo) >= 0) & ((ex - lo) < _HIST_W)]
        cols[-1] = cols[-1].alias(f"p{p}_ok")
    return out.select(*cols)


# --------------------------------------------------------------------- #
# Corpus snapshot diff (layout.snapshot_diff): row-level delta between
# two snapshot versions — the discovery half of every incremental
# pipeline rerun. Only (key, digest) pairs shuffle; with bucketed
# snapshots the full-outer join co-locates. The fixture simulates a
# recrawl: some docs dropped, some added, every doc_id % 11 = 3
# revised.
# --------------------------------------------------------------------- #
_SNAP_OLD = "SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 1"
_SNAP_NEW = (
    "SELECT doc_id, CASE WHEN doc_id % 11 = 3 THEN text || ' v2' ELSE text END"
    " AS text FROM documents WHERE doc_id % 5 <> 2"
)
_SNAP_DIFF = f"""
    oldv AS ({_SNAP_OLD}),
    newv AS ({_SNAP_NEW}),
    d AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN md5(o.text) IS NOT DISTINCT FROM md5(n.text)
                       THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM oldv o FULL JOIN newv n ON o.doc_id = n.doc_id)
"""


@query(
    "q230_snapshot_diff",
    oracle=f"""
    WITH {_SNAP_DIFF}
    SELECT status, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM d GROUP BY status
    """,
)
def q230_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.layout import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    oldv = docs.filter(F.col("doc_id") % 7 != 1)
    newv = docs.filter(F.col("doc_id") % 5 != 2).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 3, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    d = snapshot_diff(oldv, newv, "doc_id", F.md5("text"))
    return d.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# --------------------------------------------------------------------- #
# Incremental re-curation (snapshot_diff -> dedup_against): reprocess
# ONLY the recrawl's added/changed docs, deduping them against the
# UNCHANGED corpus — the 100 TB rerun story: work is O(delta), the
# unchanged 99% is touched only as a digest table (at scale: kept
# materialized + bucketed, so each rerun is one co-located anti-join).
# --------------------------------------------------------------------- #
@query(
    "q231_incremental_recuration",
    oracle=f"""
    WITH {_SNAP_DIFF},
    delta AS (
      SELECT n.doc_id, n.text, d.status
      FROM newv n JOIN d USING (doc_id)
      WHERE d.status IN ('added', 'changed')),
    seen AS (
      SELECT DISTINCT md5({_NORM.format(c='n.text')}) AS h
      FROM newv n JOIN d USING (doc_id) WHERE d.status = 'unchanged')
    SELECT doc_id, status
    FROM delta
    -- NOT EXISTS, never NOT IN: a NULL digest in `seen` would make
    -- NOT IN never-true (0 rows); the engine's anti-join keeps
    -- NULL-digest rows (NULL never equals anything)
    WHERE NOT EXISTS (
      SELECT 1 FROM seen WHERE seen.h = md5({_NORM.format(c='delta.text')}))
    """,
)
def q231_incremental_recuration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.layout import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    oldv = docs.filter(F.col("doc_id") % 7 != 1)
    newv = docs.filter(F.col("doc_id") % 5 != 2).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 3, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    d = snapshot_diff(oldv, newv, "doc_id", F.md5("text"))
    delta = newv.join(
        d.filter(F.col("status").isin("added", "changed")), "doc_id"
    )
    seen = newv.join(d.filter(F.col("status") == "unchanged"), "doc_id")
    out = dd.dedup_against(
        delta.select("doc_id", "text"), seen.select("doc_id", "text"), "doc_id", "text"
    )
    return out.join(delta.select("doc_id", "status"), "doc_id").select(
        "doc_id", "status"
    )


# --------------------------------------------------------------------- #
# Shard checksum manifest (layout.shard_manifest): deterministic
# md5-derived output sharding with ORDER-INDEPENDENT per-shard
# checksums (sum of digest folds) — two runs, partitionings, or engines
# materializing the same logical corpus produce bit-identical 64-row
# manifests, so a 100 TB reproducibility audit compares manifests, not
# shards.
# --------------------------------------------------------------------- #
@query(
    "q232_shard_manifest",
    oracle="""
    WITH r AS (
      SELECT CAST(('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 64 AS shard,
             CAST(('0x' || substr(md5(md5(text)), 1, 15)) AS BIGINT) AS h
      FROM documents)
    SELECT shard, COUNT(*) AS n_rows,
           CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS checksum
    FROM r GROUP BY shard
    """,
)
def q232_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.layout import shard_manifest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return shard_manifest(docs, "doc_id", F.md5("text"), n_shards=64)


# --------------------------------------------------------------------- #
# Cross-table fuzzy join (dedup.fuzzy_join): record linkage between a
# master table and a typo'd registry — the two-dataset form of
# q145_fuzzy_pairs (entity resolution, not in-corpus dedup). Both
# sides stage through the SAME shared prefix-block recipe (md5 per-
# block caps mirrored by the oracle's QUALIFY), shuffle once on the
# block key, banded levenshtein only inside blocks. The fixture links
# parts to a registry whose names lost their final character
# (edit distance 1, prefix intact).
# --------------------------------------------------------------------- #
_FJ_KEY = (
    "substr(regexp_replace(trim(lower({c})), '\\s+', ' ', 'g'), 1, 40)"
)
_FJ_CAP = (
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY blk "
    "ORDER BY md5('0:' || CAST(id AS VARCHAR))) <= 64"
)


@query(
    "q234_fuzzy_link",
    oracle=rf"""
    WITH lk AS (
      SELECT p_partkey AS id, {_FJ_KEY.format(c='p_name')} AS k FROM part),
    lb AS (SELECT id, k, substr(k, 1, 4) AS blk FROM lk {_FJ_CAP}),
    rk AS (
      SELECT p_partkey + 1000000 AS id,
             {_FJ_KEY.format(c='substr(p_name, 1, length(p_name)-1)')} AS k
      FROM part),
    rb AS (SELECT id, k, substr(k, 1, 4) AS blk FROM rk {_FJ_CAP})
    SELECT a.id AS p_partkey, b2.id AS reg_id,
           CAST(levenshtein(a.k, b2.k) AS INT) AS dist
    FROM lb a JOIN rb b2 ON a.blk = b2.blk
    WHERE levenshtein(a.k, b2.k) <= 2
    """,
)
def q234_fuzzy_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    registry = part.select(
        (F.col("p_partkey") + 1000000).alias("reg_id"),
        F.expr("substring(p_name, 1, length(p_name)-1)").alias("name"),
    )
    return dd.fuzzy_join(
        part,
        registry,
        "p_partkey",
        "reg_id",
        "p_name",
        "name",
        prefix_len=4,
        key_len=40,
        max_dist=2,
        max_block=64,
    )


# --------------------------------------------------------------------- #
# Snapshot roundtrip audit (layout.snapshot_apply): rebuild the new
# snapshot as unchanged-old + delta and PROVE equality with a full
# recompute via order-independent per-group checksums — the apply half
# of the incremental-rerun story (q230 discovers, q231 reprocesses,
# q235 applies and audits). Only O(delta) payload moves; the audit
# compares 8 checksum rows, never corpora.
# --------------------------------------------------------------------- #
@query(
    "q235_snapshot_roundtrip",
    oracle=f"""
    WITH {_SNAP_DIFF},
    delta AS (
      SELECT n.doc_id, n.text FROM newv n JOIN d USING (doc_id)
      WHERE d.status IN ('added', 'changed')),
    rebuilt AS (
      SELECT o.doc_id, o.text FROM oldv o JOIN d USING (doc_id)
      WHERE d.status = 'unchanged'
      UNION ALL
      SELECT doc_id, text FROM delta),
    sn AS (
      SELECT doc_id % 8 AS g, COUNT(*) AS n_new,
             CAST(SUM(CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ck_new
      FROM newv GROUP BY g),
    sr AS (
      SELECT doc_id % 8 AS g, COUNT(*) AS n_rebuilt,
             CAST(SUM(CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)
                           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ck_rebuilt
      FROM rebuilt GROUP BY g)
    SELECT g, n_new, n_rebuilt,
           n_new = n_rebuilt AND ck_new = ck_rebuilt AS equal
    FROM sn JOIN sr USING (g)
    """,
)
def q235_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.layout import snapshot_apply, snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    oldv = docs.filter(F.col("doc_id") % 7 != 1)
    newv = docs.filter(F.col("doc_id") % 5 != 2).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 3, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    d = snapshot_diff(oldv, newv, "doc_id", F.md5("text"))
    delta = newv.join(
        d.filter(F.col("status").isin("added", "changed")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    rebuilt = snapshot_apply(oldv, d, delta, "doc_id")

    fold = (
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("bigint")
        .cast("decimal(38,0)")
    )

    def summ(df, n_name, ck_name):
        return df.groupBy((F.col("doc_id") % 8).alias("g")).agg(
            F.count(F.lit(1)).alias(n_name), F.sum(fold).alias(ck_name)
        )

    sn = summ(newv, "n_new", "ck_new")
    sr = summ(rebuilt, "n_rebuilt", "ck_rebuilt")
    return sn.join(sr, "g").select(
        "g",
        "n_new",
        "n_rebuilt",
        (
            (F.col("n_new") == F.col("n_rebuilt"))
            & (F.col("ck_new") == F.col("ck_rebuilt"))
        ).alias("equal"),
    )


# --------------------------------------------------------------------- #
# Curriculum training order (select.curriculum_order): stage-major
# deterministic shuffle — highest-quality band first, each band
# internally md5-shuffled. with_row_id's single-column bucketing would
# put a whole stage in one window task; the operator buckets on the
# COMPOSITE (stage, 256-way md5 prefix), so the offset table stays tiny
# and no window exceeds ~1/256 of a stage.
# --------------------------------------------------------------------- #
@query(
    "q236_curriculum_order",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS quality_ppm
      FROM documents),
    staged AS (
      SELECT doc_id, CAST((1000000 - quality_ppm) // 100000 AS INT) AS stage FROM q)
    SELECT doc_id, stage,
           CAST(ROW_NUMBER() OVER (
                  ORDER BY stage, md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
                AS BIGINT) AS pos,
           CAST((ROW_NUMBER() OVER (
                  ORDER BY stage, md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1) % 4
                AS INT) AS shard
    FROM staged
    """,
)
def q236_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import curriculum_order

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.quality_score_ppm("text").alias("quality_ppm")
    )
    staged = docs.select(
        "doc_id",
        F.expr("CAST((1000000 - quality_ppm) div 100000 AS INT)").alias("stage"),
    )
    return curriculum_order(staged, "stage", "doc_id", seed=7, n_shards=4)


# --------------------------------------------------------------------- #
# Temperature-scaled source mixture (select.temperature_mixture): the
# XLM-R/mBERT multilingual sampling rule w_i ∝ n_i^(1/2) as exact
# integers — sqrt is the one power IEEE requires correctly rounded, so
# floor(sqrt(n·1e12)) is bit-identical across engines where a general
# pow() would hash-mismatch. Map-side reduction to ≤ n_sources rows; the
# normalizer is a one-row broadcast.
# --------------------------------------------------------------------- #
@query(
    "q237_temperature_mixture",
    oracle="""
    WITH n AS (
      SELECT source, COUNT(*)::BIGINT AS n,
             CAST(floor(sqrt(COUNT(*)::DOUBLE * 1e12)) AS BIGINT) AS s
      FROM documents GROUP BY source),
    t AS (SELECT SUM(s) AS tot FROM n)
    SELECT source, n,
           CAST((s * 1000000) // tot AS BIGINT) AS weight_ppm,
           CAST((s * 50000000) // tot AS BIGINT) AS draw,
           CAST((((s * 50000000) // tot) * 1000000) // n AS BIGINT) AS epochs_ppm
    FROM n, t
    """,
)
def q237_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import temperature_mixture

    docs = _t(spark, sf_dir, "documents").select("source")
    return temperature_mixture(docs, "source", budget=50_000_000)


# --------------------------------------------------------------------- #
# Streaming decontamination (streaming/ops.decontaminate_stream): the
# online twin of q204 — new train docs stream in, each micro-batch runs
# the SAME batch decontaminate against the persisted test split, clean
# docs append to the sink. Keep/drop is per-document, so the drained
# sink equals the batch gate exactly — which is what this hash-checks.
# --------------------------------------------------------------------- #
@query(
    "q238_stream_decontaminate",
    oracle=f"""
    WITH sh_tr AS (
      SELECT doc_id, unnest(list_distinct({_shingles('text', 5)})) AS sh
      FROM documents WHERE doc_id % 5 <> 0),
    sh_te AS (
      SELECT DISTINCT unnest(list_distinct({_shingles('text', 5)})) AS sh
      FROM documents WHERE doc_id % 5 = 0),
    dirty AS (SELECT DISTINCT doc_id FROM sh_tr JOIN sh_te USING (sh))
    SELECT doc_id, lang FROM documents
    WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def q238_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import decontaminate_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 != 0
    )
    test = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    tmp = scratch_dir("sparkdab_decon_")
    return decontaminate_stream(
        src,
        test,
        "doc_id",
        "text",
        f"{tmp}/out",
        f"{tmp}/ckpt",
        k=5,
        select_cols=["doc_id", "lang"],
    )


# --------------------------------------------------------------------- #
# Gopher/MassiveText quality rules (text.gopher_rules; Rae et al. 2021
# A1.1): the published per-document rule battery — word count, mean
# word length, alpha-word ratio, stopword floor, symbol/bullet/ellipsis
# ceilings — as one scan-fused audit with exact integer-ppm ratios.
# Thresholds here are tightened to the fixture's 10-99-word docs so the
# word-count and word-length rules actually discriminate.
# --------------------------------------------------------------------- #
# ONE definition of the Gopher-metric CTE chain and keep-conjunction
# serves q239 (the per-rule audit) and q247 (the streaming curation
# gate) — a threshold change cannot drift between their oracles.
_GOPHER_CTES = f"""gs AS (
      SELECT doc_id, {_T} AS tk, text FROM documents),
    gm AS (
      SELECT doc_id,
             len(tk)::BIGINT AS n_words,
             -- NULL text keeps every metric NULL (the engine's NULL
             -- propagation); the COALESCE only covers the empty-list
             -- case where Spark's 0-seeded aggregate reads 0
             (CASE WHEN tk IS NULL THEN NULL
                   ELSE COALESCE(list_sum(list_transform(tk, t -> length(t))), 0)
              END)::BIGINT AS chars,
             len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))::BIGINT AS alpha,
             len(list_filter(tk, t -> t IN {_SW}))::BIGINT AS stops,
             (length(text) - length(replace(text, '#', '')))::BIGINT
               + (length(text) - length(replace(text, '...', ''))) // 3 AS sym,
             len(string_split(text, chr(10)))::BIGINT AS nl,
             len(list_filter(string_split(text, chr(10)),
                             x -> x LIKE '-%' OR x LIKE '*%' OR x LIKE '•%'))::BIGINT AS bullet,
             len(list_filter(string_split(text, chr(10)),
                             x -> x LIKE '%...' OR x LIKE '%…'))::BIGINT AS ell
      FROM gs)"""

_GOPHER_KEEP = """(n_words BETWEEN 20 AND 80)
             AND ((chars * 1000000) // greatest(n_words, 1) BETWEEN 3500000 AND 6000000)
             AND ((alpha * 1000000) // greatest(n_words, 1) >= 800000)
             AND (stops >= 2)
             AND ((sym * 1000000) // greatest(n_words, 1) <= 100000)
             AND ((bullet * 1000000) // greatest(nl, 1) <= 900000)
             AND ((ell * 1000000) // greatest(nl, 1) <= 300000)"""


@query(
    "q239_gopher_rules",
    oracle=f"""
    WITH {_GOPHER_CTES}
    SELECT doc_id, n_words,
           CAST((chars * 1000000) // greatest(n_words, 1) AS BIGINT) AS wlen_ppm,
           n_words BETWEEN 20 AND 80 AS r_wordcount,
           (chars * 1000000) // greatest(n_words, 1) BETWEEN 3500000 AND 6000000 AS r_wordlen,
           (alpha * 1000000) // greatest(n_words, 1) >= 800000 AS r_alpha,
           stops >= 2 AS r_stopwords,
           (sym * 1000000) // greatest(n_words, 1) <= 100000 AS r_symbol,
           (bullet * 1000000) // greatest(nl, 1) <= 900000 AS r_bullet,
           (ell * 1000000) // greatest(nl, 1) <= 300000 AS r_ellipsis,
           {_GOPHER_KEEP} AS keep
    FROM gm
    """,
)
def q239_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.gopher_rules(
        docs,
        "doc_id",
        "text",
        min_words=20,
        max_words=80,
        min_wlen_ppm=3_500_000,
        max_wlen_ppm=6_000_000,
    )


# --------------------------------------------------------------------- #
# Cohort retention triangle (events.cohort_retention): users cohorted by
# the epoch week of their first event; per (cohort, offset) the distinct
# users still active, cohort size, and retention ppm. Pure integer epoch
# periods — engine-portable, DST-free; shuffles only on (user, period)
# keys.
# --------------------------------------------------------------------- #
@query(
    "q240_cohort_retention",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
      FROM events),
    c AS (SELECT u, MIN(wk) AS cohort FROM a GROUP BY u),
    s AS (SELECT cohort, COUNT(DISTINCT u) AS cohort_size FROM c GROUP BY cohort),
    r AS (SELECT c.cohort, a.wk - c.cohort AS "offset", COUNT(DISTINCT a.u) AS n_users
          FROM a JOIN c USING (u) GROUP BY 1, 2)
    SELECT r.cohort, r."offset", r.n_users, s.cohort_size,
           CAST((r.n_users * 1000000) // s.cohort_size AS BIGINT) AS retention_ppm
    FROM r JOIN s USING (cohort)
    """,
)
def q240_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.events import cohort_retention

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    return cohort_retention(ev, "user_id", "ts")


# --------------------------------------------------------------------- #
# Johnson-Lindenstrauss sign projection (similarity.jl_project,
# Achlioptas 2003): embeddings reduced 64→16 dims with a deterministic
# md5-parity ±1 matrix shipped as plan literals. Every output is an
# exact signed-integer sum of micro-unit components — zero shuffle,
# zero UDF, bit-exact across engines.
# --------------------------------------------------------------------- #
def _jl_oracle() -> str:
    from dabstract_spark.operators.similarity import jl_signs

    signs = jl_signs(64, 16, seed=3)
    comps = ", ".join(
        "list_sum(list_transform(embedding, (x, i) -> ("
        + "[" + ", ".join(str(s) for s in row) + "]"
        + ")[i] * CAST(CAST(round(x::DOUBLE, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)))"
        for row in signs
    )
    return f"""
    WITH p AS (SELECT vec_id, [{comps}] AS ys
               FROM embeddings)
    SELECT vec_id, CAST(k AS INT) AS k, CAST(ys[k + 1] AS BIGINT) AS y_ppm
    FROM p, UNNEST(generate_series(0, 15)) AS t(k)
    """


@query("q242_jl_projection", oracle=_jl_oracle())
def q242_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return jl_project(emb, "vec_id", "embedding", in_dim=64, out_dim=16, seed=3)


# --------------------------------------------------------------------- #
# Streaming cohort-retention maintenance (streaming/ops.
# cohort_activity_stream): micro-batches append DISTINCT (user, period)
# pairs; the live triangle is the SAME retention_from_activity rollup
# the batch op uses, over the distinct sink — set union's algebra makes
# the drained result equal the batch q240 exactly, which is what this
# hash-checks (same oracle).
# --------------------------------------------------------------------- #
@query(
    "q243_stream_cohort",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
      FROM events),
    c AS (SELECT u, MIN(wk) AS cohort FROM a GROUP BY u),
    s AS (SELECT cohort, COUNT(DISTINCT u) AS cohort_size FROM c GROUP BY cohort),
    r AS (SELECT c.cohort, a.wk - c.cohort AS "offset", COUNT(DISTINCT a.u) AS n_users
          FROM a JOIN c USING (u) GROUP BY 1, 2)
    SELECT r.cohort, r."offset", r.n_users, s.cohort_size,
           CAST((r.n_users * 1000000) // s.cohort_size AS BIGINT) AS retention_ppm
    FROM r JOIN s USING (cohort)
    """,
)
def q243_stream_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.operators.events import retention_from_activity
    from dabstract_spark.streaming.ops import cohort_activity_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/events.parquet").select("user_id", "ts")
    tmp = scratch_dir("sparkdab_cohort_")
    active = cohort_activity_stream(
        src, "user_id", "ts", f"{tmp}/out", f"{tmp}/ckpt"
    )
    return retention_from_activity(active)


# --------------------------------------------------------------------- #
# CCNet perplexity bucketing (text.perplexity_buckets; Wenzek 2020):
# the corpus cut into head/middle/tail tiers by the corpus-trained
# bigram-LM score, summarized per (bucket, source) — the
# keep/downweight/drop split of the CCNet pipeline. Value-level tie-safe
# cuts in exact integer ppm; the only window runs over DISTINCT scores.
# --------------------------------------------------------------------- #
@query(
    "q244_ccnet_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS.format(c='text')} AS ts FROM documents),
    big AS (
      SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2),
    ctx AS (SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1),
    sc AS (
      SELECT b.doc_id,
             CAST(SUM(1000000 * c2.c2 // ctx.c1) // COUNT(*) AS BIGINT) AS s
      FROM big b JOIN c2 USING (w1, w2) JOIN ctx USING (w1)
      GROUP BY b.doc_id),
    vals AS (SELECT s, COUNT(*) AS c FROM sc GROUP BY s),
    tot AS (SELECT SUM(c) AS n FROM vals),
    bk AS (
      SELECT s,
             CAST(least(2, (COALESCE(SUM(c) OVER (
                    ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) * 3) // n) AS INT) AS bucket
      FROM vals, tot),
    db AS (SELECT sc.doc_id, sc.s, bk.bucket FROM sc JOIN bk USING (s))
    SELECT bucket, d.source, COUNT(*) AS n_docs,
           CAST(SUM(db.s) // COUNT(*) AS BIGINT) AS mean_coherence_ppm
    FROM db JOIN documents d USING (doc_id)
    GROUP BY bucket, d.source
    """,
)
def q244_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per_doc = tx.perplexity_buckets(docs, "doc_id", "text", n_buckets=3)
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("bucket", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("CAST(sum(coherence_ppm) div count(1) AS BIGINT)").alias(
                "mean_coherence_ppm"
            ),
        )
    )


# --------------------------------------------------------------------- #
# Mixture materialization (select.materialize_mixture): the enforcement
# twin of the q237 audit — every source expanded to EXACTLY its
# temperature draw: floor(draw/n) full epochs plus an md5-ranked
# fractional top-up. Multi-epoch upsampling as a training pipeline
# actually executes it; output rows == Σ draws by construction.
# --------------------------------------------------------------------- #
@query(
    "q245_mixture_materialize",
    oracle="""
    WITH n AS (
      SELECT source, COUNT(*)::BIGINT AS n,
             CAST(floor(sqrt(COUNT(*)::DOUBLE * 1e12)) AS BIGINT) AS s
      FROM documents GROUP BY source),
    t AS (SELECT SUM(s) AS tot FROM n),
    p AS (SELECT source, n, (s * 1000) // tot AS draw FROM n, t),
    q AS (SELECT source, n, draw, draw // n AS f,
                 draw - (draw // n) * n AS frac FROM p),
    r AS (SELECT doc_id, source,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5('5:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents),
    x AS (SELECT r.doc_id, r.source,
            q.f + CASE WHEN r.rn <= q.frac THEN 1 ELSE 0 END AS copies
          FROM r JOIN q USING (source))
    SELECT doc_id, source, CAST(e AS INT) AS epoch
    FROM x, UNNEST(generate_series(CAST(0 AS BIGINT),
                                   CAST(copies - 1 AS BIGINT))) AS t2(e)
    """,
)
def q245_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import materialize_mixture

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    out = materialize_mixture(docs, "source", "doc_id", budget=1000, seed=5)
    return out.select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))


# --------------------------------------------------------------------- #
# T5 span-corruption manifest (packing.span_corruption_manifest; Raffel
# 2020): deterministic non-overlapping mask spans at 15% noise density,
# mean span 3 — stratified md5 placement, one scan of the token-count
# column, the text never moves. The denoising-objective companion to
# the q227/q228 causal-LM packing manifests.
# --------------------------------------------------------------------- #
@query(
    "q246_span_corruption",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), {_BPE_SQL})) AS BIGINT) AS n
      FROM documents),
    kk AS (SELECT doc_id, n, GREATEST(1, n * 150000 // 3000000) AS k
           FROM toks WHERE n > 0),
    sp AS (SELECT doc_id, n, k, CAST(sid AS INT) AS span_id
           FROM kk, UNNEST(generate_series(CAST(0 AS BIGINT), k - 1)) AS t(sid)),
    c AS (SELECT doc_id, n, span_id,
            (n * span_id) // k AS lo,
            GREATEST((n * (span_id + 1)) // k - (n * span_id) // k
                     - LEAST(3, n) + 1, 1) AS slack,
            LEAST(3, n) AS span
          FROM sp),
    u AS (SELECT *,
            CAST(('0x' || substr(md5('9:' || CAST(doc_id AS VARCHAR) || ':'
                                  || CAST(span_id AS VARCHAR)), 1, 8))
                 AS BIGINT) AS uu
          FROM c)
    SELECT doc_id, span_id, lo + (uu % slack) AS start,
           LEAST(lo + (uu % slack) + span, n) AS "end", n AS n_tokens
    FROM u
    """,
)
def q246_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.packing import span_corruption_manifest

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.bpe_token_count("text").alias("__tok")
    )
    return span_corruption_manifest(docs, "doc_id", "__tok", seed=9)


# --------------------------------------------------------------------- #
# Streaming curation gate (streaming/ops.curate_stream): the ONLINE twin
# of the q221 curation core — per micro-batch Gopher gate (q239's rules,
# shared _GOPHER_CTES/_GOPHER_KEEP oracle fragments) + decontamination
# against the static test split, emitting normalized-content digests;
# the live membership is the DISTINCT of the sink. Per-doc decisions +
# set output => drained == batch for any batching/arrival order.
# --------------------------------------------------------------------- #
@query(
    "q247_stream_curate",
    oracle=f"""
    WITH {_GOPHER_CTES},
    kept AS (
      SELECT doc_id FROM gm WHERE {_GOPHER_KEEP}),
    sh_tr AS (
      SELECT doc_id, unnest(list_distinct({_shingles('text', 5)})) AS sh
      FROM documents WHERE doc_id % 5 <> 0),
    sh_te AS (
      SELECT DISTINCT unnest(list_distinct({_shingles('text', 5)})) AS sh
      FROM documents WHERE doc_id % 5 = 0),
    dirty AS (SELECT DISTINCT doc_id FROM sh_tr JOIN sh_te USING (sh))
    SELECT DISTINCT md5({_NORM.format(c='text')}) AS content_md5
    FROM documents
    WHERE doc_id % 5 <> 0
      AND doc_id IN (SELECT doc_id FROM kept)
      AND doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def q247_stream_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import curate_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 5 != 0
    )
    test = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    tmp = scratch_dir("sparkdab_curate_")
    return curate_stream(
        src,
        test,
        "doc_id",
        "text",
        f"{tmp}/out",
        f"{tmp}/ckpt",
        k=5,
        gopher_kwargs=dict(
            min_words=20,
            max_words=80,
            min_wlen_ppm=3_500_000,
            max_wlen_ppm=6_000_000,
        ),
    )


# --------------------------------------------------------------------- #
# Hard-negative mining (similarity.hard_negatives): per query, the k
# most-similar DIFFERENT-label items — contrastive training's useful
# negatives. topk_bruteforce's plan shape with the label-mismatch
# predicate pushed into the broadcast join.
# --------------------------------------------------------------------- #
@query(
    "q248_hard_negatives",
    oracle=f"""
    WITH s AS (
      SELECT a.vec_id AS query_id, a.label AS query_label,
             b.vec_id, b.label,
             ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
      FROM embeddings a JOIN embeddings b
        ON a.vec_id <> b.vec_id AND a.label <> b.label
      WHERE a.vec_id < 20)
    SELECT query_id, query_label, vec_id, label, sim,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
    FROM s
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY sim DESC, vec_id) <= 3
    """,
)
def q248_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    out = hard_negatives(emb, emb.filter(F.col("vec_id") < 20), k=3)
    return out.withColumn("rank", F.col("rank").cast("int"))


# --------------------------------------------------------------------- #
# JL-space retrieval recall (eval twin of q242_jl_projection, the
# q167_lsh_recall pattern): top-10 by exact cosine in the original
# 64-dim space vs top-10 by integer dot product in the 16-dim JL space
# — measures how much neighborhood the projection preserves. JL dots
# are exact bigint sums, so the projected ranking is engine-exact.
# --------------------------------------------------------------------- #
def _jl_recall_oracle() -> str:
    from dabstract_spark.operators.similarity import jl_signs

    signs = jl_signs(64, 16, seed=3)
    comps = ", ".join(
        "list_sum(list_transform(embedding, (x, i) -> ("
        + "[" + ", ".join(str(s) for s in row) + "]"
        + ")[i] * CAST(CAST(round(x::DOUBLE, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT)))"
        for row in signs
    )
    return f"""
    WITH p AS (SELECT vec_id, [{comps}] AS ys FROM embeddings),
    exact_s AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             ROUND({_DOT} / ({_NORM_A} * {_NORM_B}), 6) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20),
    exact_k AS (
      SELECT query_id, vec_id FROM exact_s
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) <= 10),
    jd AS (
      SELECT a.vec_id AS query_id, b.vec_id,
             list_sum(list_transform(generate_series(1, 16),
                                     j -> a.ys[j] * b.ys[j])) AS d
      FROM p a JOIN p b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 20),
    jl_k AS (
      SELECT query_id, vec_id FROM jd
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) <= 10),
    hits AS (
      SELECT e.query_id, COUNT(*) AS n
      FROM exact_k e JOIN jl_k l ON e.query_id = l.query_id AND e.vec_id = l.vec_id
      GROUP BY e.query_id)
    SELECT q.vec_id AS query_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n, 0) * 100000 AS BIGINT) AS recall_ppm
    FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 20) q
    LEFT JOIN hits h ON q.vec_id = h.query_id
    """


@query("q249_jl_recall", oracle=_jl_recall_oracle())
def q249_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 20)
    exact_k = sim.topk_bruteforce(emb, queries_df, k=10).select("query_id", "vec_id")
    proj = jl_project(emb, "vec_id", "embedding", in_dim=64, out_dim=16, seed=3)
    ys = proj.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("k", "y_ppm"))), lambda s: s.y_ppm
        ).alias("ys")
    )
    q = ys.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("ys").alias("__qys")
    )
    jd = ys.join(F.broadcast(q), F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("__qys"), F.col("ys"), lambda x, y: x * y),
            F.lit(0).cast("bigint"),
            lambda a, v: a + v,
        ).alias("d"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("d"), F.asc("vec_id"))
    jl_k = (
        jd.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("query_id", "vec_id")
    )
    hits = (
        exact_k.join(jl_k, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id")
    ).distinct()
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_hit"),
        (F.coalesce(F.col("n"), F.lit(0)) * 100000).cast("bigint").alias("recall_ppm"),
    )


# --------------------------------------------------------------------- #
# Key-skew profiler (skew.key_skew_profile): the measurement half of the
# salting story (q82_salted_agg is the mitigation) — top-10 heaviest
# keys with exact ppm shares plus Herfindahl concentration, the numbers
# that decide salting/broadcast/AQE-hint choices before a 100 TB join.
# --------------------------------------------------------------------- #
@query(
    "q250_key_skew",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
    s AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS total, MAX(cnt) AS mx,
                 SUM(CAST(cnt AS DECIMAL(38,0)) * cnt) AS sq
          FROM c),
    t AS (SELECT user_id, cnt,
                 CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank
          FROM c
          QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) <= 10)
    -- HUGEINT // HUGEINT is true integer division; DECIMAL // DECIMAL
    -- is plain division in DuckDB and the BIGINT cast then ROUNDS,
    -- flipping values near .5 vs Spark's truncating decimal div
    SELECT t.rank, t.user_id, t.cnt,
           CAST((CAST(t.cnt AS HUGEINT) * 1000000)
                // CAST(s.total AS HUGEINT) AS BIGINT) AS share_ppm,
           s.n_keys, s.total,
           CAST((CAST(s.mx AS HUGEINT) * 1000000)
                // CAST(s.total AS HUGEINT) AS BIGINT) AS max_share_ppm,
           CAST((CAST(s.sq AS HUGEINT) * 1000000) // (CAST(s.total AS HUGEINT)
                * CAST(s.total AS HUGEINT)) AS BIGINT) AS hhi_ppm
    FROM t, s
    """,
)
def q250_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.skew import key_skew_profile

    ev = _t(spark, sf_dir, "events").select("user_id")
    return key_skew_profile(ev, ["user_id"], top_k=10)


# --------------------------------------------------------------------- #
# Skew pre-flight ADVISORY (skew.skew_advice): the actionable half of
# q250_key_skew — per hot key, broadcast / salt(k) / ok, with k =
# ceil(cnt·n_partitions/total) the exact number of fair-share reducers
# the key's rows occupy (q82_salted_agg's mitigation, sized from the
# measurement). All-integer decision arithmetic so the advice strings
# hash-check across engines.
# --------------------------------------------------------------------- #
@query(
    "q258_skew_advice",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    s AS (SELECT COUNT(*) AS n_keys, SUM(cnt) AS total FROM c),
    t AS (SELECT lang, cnt,
                 CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, lang) AS INT) AS rank
          FROM c
          QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, lang) <= 5),
    a AS (SELECT t.rank, t.lang, t.cnt,
                 CAST((CAST(t.cnt AS HUGEINT) * 1000000)
                      // CAST(s.total AS HUGEINT) AS BIGINT) AS share_ppm,
                 CAST((CAST(t.cnt AS HUGEINT) * 32 + CAST(s.total AS HUGEINT) - 1)
                      // CAST(s.total AS HUGEINT) AS INT) AS n_salts,
                 s.n_keys
          FROM t, s)
    SELECT rank, lang, cnt, share_ppm, n_salts,
           CASE WHEN n_keys <= 2 THEN 'broadcast'
                WHEN n_salts > 1 THEN 'salt(' || CAST(n_salts AS VARCHAR) || ')'
                ELSE 'ok' END AS advice
    FROM a
    """,
)
def q258_skew_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.skew import skew_advice

    docs = _t(spark, sf_dir, "documents").select("lang")
    # broadcast_max_keys=2 forces the decision past the broadcast
    # shortcut so the salt-sizing arithmetic itself is what hash-checks
    return skew_advice(
        docs, ["lang"], n_partitions=32, broadcast_max_keys=2, top_k=5
    )


# --------------------------------------------------------------------- #
# Streaming near-dup ingest gate (streaming/ops.neardup_ingest_stream):
# the LSH sibling of q162_stream_incremental_dedup — new docs banded
# with the SAME minhash_bands staging and joined per micro-batch against
# a persisted, hot-band-capped corpus index; per-doc decisions against a
# fixed index + set output => drained == batch join exactly.
# --------------------------------------------------------------------- #
@query(
    "q251_stream_neardup_ingest",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents),
         ths AS (SELECT doc_id, {_TH} AS th FROM tk),
         hs2 AS (SELECT doc_id, {_HS3} AS hs FROM ths),
         sig AS (SELECT doc_id, {_minhash_list(16)} AS mh FROM hs2 WHERE len(hs) > 0),
         bands AS (
           SELECT doc_id, b AS band_id,
                  md5(array_to_string(mh[b*4+1 : b*4+4], ',')) AS band_hash
           FROM sig, UNNEST(generate_series(0, 3)) AS t(b)),
         cb AS (
           SELECT doc_id, band_id, band_hash FROM bands WHERE doc_id % 3 = 0
           QUALIFY ROW_NUMBER() OVER (
             PARTITION BY band_id, band_hash
             ORDER BY md5('0:' || CAST(doc_id AS VARCHAR))) <= 64),
         nb AS (
           SELECT doc_id, band_id, band_hash FROM bands WHERE doc_id % 3 <> 0)
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM nb n JOIN cb c USING (band_id, band_hash)
    """,
)
def q251_stream_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import neardup_ingest_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") % 3 != 0
    )
    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    tmp = scratch_dir("sparkdab_ndi_")
    return neardup_ingest_stream(
        src, corpus, "doc_id", "text", f"{tmp}/out", f"{tmp}/ckpt",
        n_hashes=16, bands=4, k=3, max_bucket=64,
    )


# --------------------------------------------------------------------- #
# Distributed Poisson bootstrap (select.bootstrap_means): 32 replicate
# means of the corpus quality score with per-(seed, b, doc) md5
# inverse-CDF Poisson(1) weights — error bars for corpus metrics with
# no global count and no sequential resampling. Exact ppm integers end
# to end.
# --------------------------------------------------------------------- #
def _poisson_w_sql(u: str) -> str:
    from dabstract_spark.operators.select import POISSON1_CDF_PPM

    return " + ".join(f"(CASE WHEN {u} >= {t} THEN 1 ELSE 0 END)" for t in POISSON1_CDF_PPM)


@query(
    "q254_bootstrap_quality",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS qp
      FROM documents),
    reps AS (
      SELECT doc_id, qp, b,
             CAST(('0x' || substr(md5('7:' || CAST(b AS VARCHAR) || ':'
                                   || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1000000 AS u
      FROM q, UNNEST(generate_series(0, 31)) AS t(b)),
    w AS (SELECT b, qp, {_poisson_w_sql('u')} AS w FROM reps)
    SELECT CAST(b AS INT) AS b, CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * qp) // greatest(SUM(w), 1) AS BIGINT) AS mean_ppm
    FROM w GROUP BY b
    """,
)
def q254_bootstrap_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import bootstrap_means

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.quality_score_ppm("text").alias("qp")
    )
    out = bootstrap_means(docs, "doc_id", "qp", n_boot=32, seed=7)
    return out.select(F.col("b").cast("int").alias("b"), "n_eff", "mean_ppm")


# --------------------------------------------------------------------- #
# Streaming bootstrap maintenance (streaming/ops.bootstrap_stream): each
# micro-batch appends its mergeable (b, Σw, Σw·v) partials from the
# SAME bootstrap_partials staging as q254; live means = merge-by-sum +
# the identical div. Deterministic per-(seed, b, key) weights + plain
# sums => drained == batch bootstrap exactly (same oracle as q254).
# --------------------------------------------------------------------- #
@query(
    "q255_stream_bootstrap",
    oracle=f"""
    WITH q AS (
      SELECT doc_id,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS qp
      FROM documents),
    reps AS (
      SELECT doc_id, qp, b,
             CAST(('0x' || substr(md5('7:' || CAST(b AS VARCHAR) || ':'
                                   || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1000000 AS u
      FROM q, UNNEST(generate_series(0, 31)) AS t(b)),
    w AS (SELECT b, qp, {_poisson_w_sql('u')} AS w FROM reps)
    SELECT CAST(b AS INT) AS b, CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * qp) // greatest(SUM(w), 1) AS BIGINT) AS mean_ppm
    FROM w GROUP BY b
    """,
)
def q255_stream_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import bootstrap_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", tx.quality_score_ppm("text").alias("qp")
    )
    tmp = scratch_dir("sparkdab_boot_")
    out = bootstrap_stream(
        src, "doc_id", "qp", f"{tmp}/out", f"{tmp}/ckpt", n_boot=32, seed=7
    )
    return out.select(F.col("b").cast("int").alias("b"), "n_eff", "mean_ppm")


# --------------------------------------------------------------------- #
# Collocation mining (text.collocations): adjacent-pair LIFT ranking —
# the PMI argument without the log (monotone-equivalent ranking, exact
# integers where IEEE log would drift across engines). Vocabulary-sized
# shuffles; N is a 1-row broadcast; small-k TakeOrdered.
# --------------------------------------------------------------------- #
@query(
    "q256_collocations",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS.format(c='text')} AS ts FROM documents),
    big AS (
      SELECT ts[i] AS w1, ts[i + 1] AS w2
      FROM tok, UNNEST(generate_series(1, len(ts) - 1)) AS t(i)),
    pairs AS (SELECT w1, w2, COUNT(*) AS pair_cnt FROM big GROUP BY w1, w2),
    uni AS (
      SELECT w, COUNT(*) AS c
      FROM (SELECT unnest(ts) AS w FROM tok) GROUP BY w),
    n AS (SELECT SUM(c) AS n FROM uni),
    scored AS (
      SELECT p.w1, p.w2, p.pair_cnt,
             CAST((CAST(p.pair_cnt AS HUGEINT) * n.n * 1000000)
                  // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_ppm
      FROM pairs p
      JOIN uni u1 ON u1.w = p.w1
      JOIN uni u2 ON u2.w = p.w2
      CROSS JOIN n
      WHERE p.pair_cnt >= 5)
    SELECT CAST(ROW_NUMBER() OVER (
             ORDER BY lift_ppm DESC, pair_cnt DESC, w1, w2) AS INT) AS rank,
           w1, w2, pair_cnt, lift_ppm
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
      ORDER BY lift_ppm DESC, pair_cnt DESC, w1, w2) <= 20
    """,
)
def q256_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.collocations(docs, "doc_id", "text", top_k=20, min_count=5)


# --------------------------------------------------------------------- #
# DSIR data selection (text.dsir_logratio_table / dsir_select — Xie et
# al. 2023, importance resampling over hashed n-grams): estimate
# per-bucket ln p_target/p_raw over 1024 md5-hashed unigram+bigram
# buckets (target = src0/src1 docs, raw = the rest) and keep the 50
# most target-like raw docs by exact-integer score sum. The bucket
# table reduces map-side to <= n_buckets rows (broadcast-sized by
# construction); scoring is one explode + broadcast join + groupBy(doc)
# — a single pass over the raw corpus at any scale. Log-ratios are
# floored to 1e-6 units (nb_score's recipe) so the per-doc sums are
# exact bigints, reproducible across partitionings and engines.
# --------------------------------------------------------------------- #
#: shared DSIR oracle staging (q259 top-k selection + q260 streaming
#: scorer): hashed unigram+bigram buckets, smoothed log-ratio table,
#: exact-bigint per-doc scores over the raw (non-target) split
_DSIR_CTES = f"""tk AS (
      SELECT doc_id, source, {_TOKENS.format(c='text')} AS t FROM documents),
    feats AS (
      SELECT doc_id, source, f
      FROM tk, UNNEST(list_concat(
        list_transform(t, x -> 'u:' || x),
        list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                       i -> 'b:' || t[i] || ' ' || t[i + 1]))) AS u(f)),
    b AS (
      SELECT doc_id, source,
             CAST(CAST(('0x' || substr(md5('0:' || f), 1, 8)) AS BIGINT)
                  % 1024 AS INT) AS bucket
      FROM feats),
    ct AS (SELECT bucket, COUNT(*) AS c FROM b
           WHERE source IN ('src0', 'src1') GROUP BY bucket),
    cr AS (SELECT bucket, COUNT(*) AS c FROM b
           WHERE source NOT IN ('src0', 'src1') GROUP BY bucket),
    spine AS (SELECT CAST(x AS INT) AS bucket
              FROM UNNEST(generate_series(0, 1023)) s(x)),
    j AS (SELECT spine.bucket, COALESCE(ct.c, 0) AS ct, COALESCE(cr.c, 0) AS cr
          FROM spine LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket)),
    tt AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM j),
    w AS (SELECT bucket,
                 CAST(FLOOR((LN((ct + 1) / CAST(tt + 1024 AS DOUBLE))
                             - LN((cr + 1) / CAST(tr + 1024 AS DOUBLE)))
                            * 1000000) AS BIGINT) AS w_units
          FROM j, tt),
    sc AS (SELECT b.doc_id, COUNT(*) AS n_feats,
                  SUM(COALESCE(w.w_units, 0)) AS score_units
           FROM b JOIN w USING (bucket)
           WHERE b.source NOT IN ('src0', 'src1') GROUP BY b.doc_id)"""


@query(
    "q259_dsir_selection",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_units DESC, doc_id) AS INT)
             AS rank,
           doc_id, n_feats, score_units
    FROM sc
    QUALIFY ROW_NUMBER() OVER (ORDER BY score_units DESC, doc_id) <= 50
    """,
)
def q259_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    raw = docs.filter(~F.col("source").isin("src0", "src1"))
    # single-pass flagged builder: target and raw share this corpus, so
    # the table comes from ONE scan (conditional agg) instead of two
    table = tx.dsir_logratio_table_flagged(
        docs, F.col("source").isin("src0", "src1"), "text", n_buckets=1024
    )
    return tx.dsir_select(raw, table, "doc_id", "text", k=50, n_buckets=1024)


# --------------------------------------------------------------------- #
# Streaming DSIR scorer (streaming/ops.dsir_score_stream): micro-batches
# of incoming raw docs scored against the FIXED log-ratio table trained
# on the static corpora — per-doc scores are batching-independent and
# the output is one row per document, so drained == the batch scorer
# exactly (same oracle staging as q259, no top-k).
# --------------------------------------------------------------------- #
@query(
    "q260_stream_dsir",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_feats, score_units FROM sc
    """,
)
def q260_stream_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import dsir_score_stream, stream_events

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    raw_static = docs.filter(~F.col("source").isin("src0", "src1"))
    table = tx.dsir_logratio_table(target, raw_static, "text", n_buckets=1024)
    src = stream_events(spark, f"{sf_dir}/documents.parquet").filter(
        ~F.col("source").isin("src0", "src1")
    )
    tmp = scratch_dir("sparkdab_dsir_")
    return dsir_score_stream(
        src,
        table,
        "doc_id",
        "text",
        f"{tmp}/out",
        f"{tmp}/ckpt",
        n_buckets=1024,
    )


# --------------------------------------------------------------------- #
# Per-group quality calibration (select.grouped_rank_ppm): EXACT
# within-language percentile of the quality score WITHOUT a group-sized
# window — the CCNet per-language calibration move, built on the
# composite-bucket offset discipline: 256 fixed-width VALUE buckets of
# the ppm score are ranges of the order, so per-(lang, bucket) counts
# fold into a broadcast offset table and every local window is bounded
# at one bucket's slice of one group. The dominant language never lands
# in a single task's sort.
# --------------------------------------------------------------------- #
@query(
    "q261_grouped_rank_calibration",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS qp
      FROM documents)
    -- NULLS FIRST mirrors the engine: NULL scores land in value
    -- bucket 0 and rank before score 0 (Spark's default NULL order);
    -- a NULL lang is a real group (the engine's group key is
    -- null-safe)
    SELECT doc_id, lang, qp,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY qp NULLS FIRST, doc_id)
                AS BIGINT) AS rank_in_group,
           CAST((CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY qp NULLS FIRST, doc_id)
                      - 1 AS HUGEINT) * 1000000)
                // GREATEST(COUNT(*) OVER (PARTITION BY lang) - 1, 1)
                AS BIGINT) AS pct_ppm
    FROM q
    """,
)
def q261_grouped_rank_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import grouped_rank_ppm

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", tx.quality_score_ppm("text").alias("qp")
    )
    # languages are a human-scale domain: the hint keeps the offsets
    # broadcast decision job-free and the physical plan unchanged
    return grouped_rank_ppm(docs, "lang", "qp", "doc_id", n_groups_hint=64).select(
        "doc_id", "lang", "qp", "rank_in_group", "pct_ppm"
    )


# --------------------------------------------------------------------- #
# Greedy k-center diversity selection (similarity.kcenter_select,
# Gonzalez 1985 farthest-point coreset): 6 exemplars covering the
# embedding space — exact integer squared-L2 over ppm-quantized
# components, min-id seed, id tiebreak. The oracle replays the greedy
# as a recursive CTE carrying the per-point min-distance state; Spark
# runs the fixed-iteration distributed form (state stays distributed,
# one literal-center HOF fold + one TakeOrdered(1) per round).
# --------------------------------------------------------------------- #
@query(
    "q262_kcenter_coreset",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               CAST(CAST(round(x::DOUBLE, 6) AS DECIMAL(18,6)) * 1000000
                    AS BIGINT)) AS v
      FROM embeddings),
    sd AS (SELECT v FROM e WHERE vec_id = (SELECT min(vec_id) FROM e)),
    st AS (
      SELECT 1 AS step, e.vec_id, e.v,
             list_sum(list_transform(generate_series(1, 64),
               j -> (e.v[j] - sd.v[j]) * (e.v[j] - sd.v[j]))) AS mind
      FROM e, sd
      UNION ALL
      SELECT step + 1, vec_id, v,
             least(mind, list_sum(list_transform(generate_series(1, 64),
               j -> (v[j] - cv[j]) * (v[j] - cv[j]))))
      FROM (SELECT step, vec_id, v, mind,
                   first_value(v) OVER (ORDER BY mind DESC, vec_id) AS cv
            FROM st)
      WHERE step < 5)
    SELECT CAST(0 AS INT) AS sel_order,
           (SELECT min(vec_id) FROM e) AS vec_id,
           CAST(0 AS BIGINT) AS dist_sq
    UNION ALL
    SELECT CAST(step AS INT) AS sel_order, vec_id, CAST(mind AS BIGINT) AS dist_sq
    FROM st
    QUALIFY ROW_NUMBER() OVER (PARTITION BY step ORDER BY mind DESC, vec_id) = 1
    """,
)
def q262_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.similarity import kcenter_select

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_select(emb, k=6)


def _poly_sql(k: int) -> str:
    """k-token polynomial window fold over a CTE column named th
    (generalizes _POLY3 — identical arithmetic to
    dedup._poly_shingle_hashes_sql)."""
    expr = "th[i]"
    for j in range(1, k):
        expr = f"(({expr}) * 131 + th[i+{j}]) % 2147483647"
    return expr


# --------------------------------------------------------------------- #
# Memorization-risk audit (dedup.ngram_dup_stats — Lee et al. 2022):
# per document, the fraction of its 8-token windows that also appear in
# ANOTHER document. Shared shingle-hash staging; the gram
# document-frequency table arrives at the join pre-aggregated
# (vocabulary-sized), so a corpus-hot gram is one row, never a hot
# join side.
# --------------------------------------------------------------------- #
@query(
    "q263_memorization_audit",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {_TOKENS.format(c='text')} AS t FROM documents
      WHERE len({_TOKENS.format(c='text')}) >= 8),
    ths AS (SELECT doc_id, {_TH} AS th FROM tk),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(th) - 7),
                                   i -> {_poly_sql(8)})) AS gr
      FROM ths),
    dfq AS (SELECT gr, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gr)
    SELECT g.doc_id, COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST((CAST(SUM(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS HUGEINT)
                 * 1000000) // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS dup_ppm
    FROM g JOIN dfq USING (gr)
    GROUP BY g.doc_id
    """,
)
def q263_memorization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dd.ngram_dup_stats(docs, "doc_id", "text", k=8)


# --------------------------------------------------------------------- #
# Streaming calibration maintenance (streaming/ops.calibration_stream):
# the ONLINE twin of q261's offset state — per-(lang, 256-way value
# bucket) quality counts appended per micro-batch, live table =
# merge-by-sum (counts are mergeable partials, the IVM/CMS argument, so
# drained == batch bucket counts for any batching). width = ceil(1e6/256)
# = 3907; FLOOR division in the oracle mirrors Spark's truncating cast.
# --------------------------------------------------------------------- #
@query(
    "q264_stream_calibration",
    oracle=f"""
    WITH q AS (
      SELECT lang,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS qp
      FROM documents)
    SELECT lang,
           LEAST(255, GREATEST(0, CAST(FLOOR(qp / 3907.0) AS INT))) AS bucket,
           COUNT(*) AS n
    FROM q GROUP BY 1, 2
    """,
)
def q264_stream_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import calibration_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/documents.parquet").select(
        "lang", tx.quality_score_ppm("text").alias("qp")
    )
    tmp = scratch_dir("sparkdab_calib_")
    return calibration_stream(
        src, "lang", "qp", f"{tmp}/out", f"{tmp}/ckpt", max_score=1_000_000
    )


# --------------------------------------------------------------------- #
# Length-bucketed dynamic batching (packing.length_bucket_batches): the
# padding-efficient loader layout — power-2 length buckets, batches of
# batch_tokens div cap docs per bucket in a seed-reproducible md5
# order. Within-bucket index via curriculum_order's composite bucketing
# (no bucket-sized window: most web text shares a few length buckets).
# --------------------------------------------------------------------- #
@query(
    "q265_length_batches",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, CAST(len({_T}) AS BIGINT) AS nt FROM documents),
    caps AS (
      -- NULL nt rides in the cap-1 bucket (engine: greatest(NULL,1)=1)
      SELECT doc_id, nt,
             CASE WHEN nt IS NULL OR nt <= 1 THEN 1
                  ELSE (1::BIGINT << length(bin(nt - 1))) END AS cap
      FROM q),
    idx AS (
      SELECT doc_id, nt, cap,
             ROW_NUMBER() OVER (
               PARTITION BY cap
               ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS i
      FROM caps)
    SELECT doc_id, nt AS n_tokens, cap AS bucket_cap,
           CAST(i // GREATEST(4096 // cap, 1) AS BIGINT) AS batch_id,
           CAST(i % GREATEST(4096 // cap, 1) AS INT) AS slot
    FROM idx
    """,
)
def q265_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.packing import length_bucket_batches

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.token_count("text").alias("nt")
    )
    return length_bucket_batches(docs, "doc_id", "nt", batch_tokens=4096, seed=0)


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


# --------------------------------------------------------------------- #
# Corpus datasheet (quality.corpus_datasheet — Gebru 2018 "Datasheets
# for Datasets"): the tall (metric, value) data card a curation run
# ships — doc/token counts, language cardinality, short-doc and
# PII-bearing counts, exact-duplicate exposure, integer-div mean
# quality. One staged projection; scalars reduce in a single global
# aggregate, duplicates in one digest groupBy.
# --------------------------------------------------------------------- #
@query(
    "q266_corpus_datasheet",
    oracle=f"""
    WITH s AS (
      SELECT CAST(len({_T}) AS BIGINT) AS nt,
             ((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10) AS qp,
             md5({_NORM.format(c='text')}) AS dg,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS pe,
             lang
      FROM documents),
    sc AS (SELECT COUNT(*) AS n_docs, SUM(nt) AS n_tokens,
                  COUNT(DISTINCT lang) AS n_langs,
                  SUM(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS short_docs,
                  SUM(CASE WHEN pe > 0 THEN 1 ELSE 0 END) AS pii_docs,
                  CAST(CAST(SUM(qp) AS HUGEINT) // COUNT(*) AS BIGINT)
                    AS mean_quality_ppm
           FROM s),
    du AS (SELECT COALESCE(SUM(c), 0) AS dup_docs FROM
           (SELECT COUNT(*) AS c FROM s GROUP BY dg HAVING COUNT(*) >= 2))
    SELECT 'n_docs' AS metric, CAST(n_docs AS BIGINT) AS value FROM sc
    UNION ALL SELECT 'n_tokens', CAST(n_tokens AS BIGINT) FROM sc
    UNION ALL SELECT 'n_langs', CAST(n_langs AS BIGINT) FROM sc
    UNION ALL SELECT 'short_docs', CAST(short_docs AS BIGINT) FROM sc
    UNION ALL SELECT 'pii_docs', CAST(pii_docs AS BIGINT) FROM sc
    UNION ALL SELECT 'dup_docs', CAST(dup_docs AS BIGINT) FROM du
    UNION ALL SELECT 'mean_quality_ppm', mean_quality_ppm FROM sc
    """,
)
def q266_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.quality import corpus_datasheet

    docs = _t(spark, sf_dir, "documents")
    return corpus_datasheet(docs, "doc_id", "text", lang_col="lang")


# --------------------------------------------------------------------- #
# Character-class profile (textstats.charclass_profile): per-document
# letter/digit/whitespace/other mix in exact ppm — the ASCII-portable
# script/encoding screen run before language-ID. Counts by class-strip
# (length minus stripped length), ppm by truncating integer div.
# --------------------------------------------------------------------- #
@query(
    "q267_charclass_profile",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, length(text)::BIGINT AS n,
             (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::BIGINT AS l,
             (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS d,
             (length(text) - length(regexp_replace(text, '\s', '', 'g')))::BIGINT AS sp
      FROM documents)
    SELECT doc_id, n AS n_chars,
           CAST(CAST(l AS HUGEINT) * 1000000 // greatest(n, 1) AS BIGINT) AS letter_ppm,
           CAST(CAST(d AS HUGEINT) * 1000000 // greatest(n, 1) AS BIGINT) AS digit_ppm,
           CAST(CAST(sp AS HUGEINT) * 1000000 // greatest(n, 1) AS BIGINT) AS space_ppm,
           CAST(CAST(n - l - d - sp AS HUGEINT) * 1000000 // greatest(n, 1) AS BIGINT) AS other_ppm
    FROM s
    """,
)
def q267_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import charclass_profile

    docs = _t(spark, sf_dir, "documents")
    return charclass_profile(docs, "doc_id", "text")


# --------------------------------------------------------------------- #
# N-gram diversity (textstats.ngram_diversity): per-language bigram
# type-token ratio in exact ppm — the template/boilerplate collapse
# screen (self-BLEU's relational cousin). Pre-aggregates to
# (lang, gram, count) so the shuffle is vocabulary-sized.
# --------------------------------------------------------------------- #
_BIGRAMS = _shingles("text", 2)


@query(
    "q268_ngram_diversity",
    oracle=f"""
    WITH g AS (
      SELECT lang, unnest({_BIGRAMS}) AS gm FROM documents),
    pg AS (SELECT lang, gm, COUNT(*)::BIGINT AS c FROM g GROUP BY 1, 2)
    SELECT lang, CAST(SUM(c) AS BIGINT) AS total_ngrams,
           COUNT(*)::BIGINT AS distinct_ngrams,
           CAST(CAST(COUNT(*) AS HUGEINT) * 1000000
                // greatest(SUM(c), 1) AS BIGINT) AS ttr_ppm
    FROM pg GROUP BY lang
    """,
)
def q268_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import ngram_diversity

    docs = _t(spark, sf_dir, "documents")
    return ngram_diversity(docs, "lang", "text", n=2)


# --------------------------------------------------------------------- #
# Cross-group keyness (textstats.keyness_terms): per-source salient
# terms by add-one-smoothed relative-risk lift in exact ppm — "what
# words make this source different from the rest of the corpus"; the
# between-corpus counterpart of q256's within-corpus collocations.
# Top-k per source through the audited two-level rank.
# --------------------------------------------------------------------- #
@query(
    "q269_keyness_terms",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({_T}) AS term FROM documents
                 WHERE source IS NOT NULL),
    cgw AS (SELECT source, term, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY 1, 2),
    cw AS (SELECT term, CAST(SUM(cnt) AS BIGINT) AS cw FROM cgw GROUP BY 1),
    tg AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tg FROM cgw GROUP BY 1),
    tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM cgw),
    sc AS (
      SELECT c.source, c.term, c.cnt,
             CAST(CAST(c.cnt AS HUGEINT) * (t.tot - g.tg + 1) * 1000000
                  // (CAST(g.tg AS HUGEINT) * (w.cw - c.cnt + 1)) AS BIGINT)
               AS lift_ppm
      FROM cgw c JOIN cw w USING (term) JOIN tg g USING (source)
      CROSS JOIN tt t
      WHERE c.cnt >= 5)
    SELECT source, term, cnt, lift_ppm FROM sc
    QUALIFY row_number() OVER (
      PARTITION BY source ORDER BY lift_ppm DESC, cnt DESC, term) <= 8
    """,
)
def q269_keyness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import keyness_terms

    docs = _t(spark, sf_dir, "documents")
    return keyness_terms(docs, "source", "text", top_k=8, min_count=5)


# --------------------------------------------------------------------- #
# OOV-rate evaluation (textstats.vocab_oov): per-language out-of-
# vocabulary token rate against the corpus' own top-500 word vocabulary
# (count desc, term asc — a total order, so the vocab is deterministic
# on both engines). The tokenizer-coverage screen next to q205's BPE
# fertility.
# --------------------------------------------------------------------- #
@query(
    "q270_vocab_oov",
    oracle=f"""
    WITH tok AS (SELECT lang, unnest({_T}) AS term FROM documents),
    cnts AS (SELECT term, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1),
    voc AS (SELECT term FROM cnts
            QUALIFY row_number() OVER (ORDER BY c DESC, term) <= 500)
    SELECT lang, COUNT(*)::BIGINT AS total_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS HUGEINT)
                * 1000000 // greatest(COUNT(*), 1) AS BIGINT) AS oov_ppm
    FROM tok LEFT JOIN voc v USING (term) GROUP BY lang
    """,
)
def q270_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import vocab_oov

    docs = _t(spark, sf_dir, "documents")
    return vocab_oov(docs, "lang", "text", k=500)


# --------------------------------------------------------------------- #
# Water-filling budget allocation (planning.budget_allocation): split a
# 50k global token budget across sources by exact max-min fairness with
# a 2-epoch repeat cap (the Muennighoff data-constrained regime) —
# "what should each domain's budget BE" before token_budget_per_group
# picks the documents. Whole plan runs on the n_sources-row count
# table; the oracle replays the same integer water-fill with windows.
# --------------------------------------------------------------------- #
@query(
    "q271_budget_allocation",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(COALESCE(SUM(len({_T})), 0) AS BIGINT) AS n
      FROM documents WHERE source IS NOT NULL GROUP BY 1),
    r AS (
      SELECT source, n, n * 2 AS cap,
             row_number() OVER (ORDER BY n * 2, source) AS i,
             COALESCE(SUM(n * 2) OVER (
               ORDER BY n * 2, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
             COUNT(*) OVER ()
               - row_number() OVER (ORDER BY n * 2, source) + 1 AS rr
      FROM c),
    l AS (SELECT *, CAST(50000 - p AS HUGEINT) // rr AS level FROM r),
    kk AS (SELECT i AS ki, level AS cc, 50000 - p - level * rr AS rem
           FROM l WHERE i = (SELECT MIN(i) FROM l WHERE level < cap)),
    a AS (SELECT l.*, kk.ki, kk.cc, kk.rem FROM l LEFT JOIN kk ON TRUE),
    f AS (
      SELECT source, n, cap,
             CAST(CASE WHEN ki IS NULL OR i < ki THEN cap
                  ELSE cc + (CASE WHEN i - ki < rem THEN 1 ELSE 0 END)
                  END AS BIGINT) AS alloc
      FROM a)
    SELECT source, n AS n_tokens, cap AS cap_tokens, alloc AS alloc_tokens,
           CAST(CAST(alloc AS HUGEINT) * 1000000
                // greatest(n, 1) AS BIGINT) AS epochs_ppm,
           CAST(CASE WHEN alloc < cap THEN 1 ELSE 0 END AS INT) AS capped
    FROM f
    """,
)
def q271_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.planning import budget_allocation

    docs = _t(spark, sf_dir, "documents").select(
        "source", tx.token_count("text").alias("nt")
    )
    return budget_allocation(docs, "source", "nt", total_budget=50_000, max_repeat=2)


# --------------------------------------------------------------------- #
# Streaming OOV scorer (streaming/ops.oov_score_stream): the ONLINE
# twin of q270_vocab_oov — per-document coverage scoring against the
# FIXED top-500 vocabulary (textstats.vocab_top_k on the static
# corpus). Per-doc decisions are batching-independent and the output is
# one row per document, so drained == batch scorer (set algebra, no
# stream state). Docs with zero tokens produce no row on either side.
# --------------------------------------------------------------------- #
@query(
    "q272_stream_oov",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_T}) AS term FROM documents),
    cnts AS (SELECT term, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1),
    voc AS (SELECT term FROM cnts
            QUALIFY row_number() OVER (ORDER BY c DESC, term) <= 500)
    SELECT doc_id, COUNT(*)::BIGINT AS total_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           CAST(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS HUGEINT)
                * 1000000 // greatest(COUNT(*), 1) AS BIGINT) AS oov_ppm
    FROM tok LEFT JOIN voc v USING (term) GROUP BY doc_id
    """,
)
def q272_stream_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.operators.textstats import vocab_top_k
    from dabstract_spark.streaming.ops import oov_score_stream, stream_events

    docs = _t(spark, sf_dir, "documents")
    vocab = vocab_top_k(docs, "text", k=500)
    src = stream_events(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    tmp = scratch_dir("sparkdab_oov_")
    return oov_score_stream(
        src,
        vocab,
        "doc_id",
        "text",
        f"{tmp}/out",
        f"{tmp}/ckpt",
        vocab_size_hint=500,
    )


# --------------------------------------------------------------------- #
# Canary-phrase exposure audit (textstats.canary_exposure, the counting
# half of the Carlini secret-sharer methodology): for every planted
# canary, how many documents contain it verbatim and which doc_id
# surfaces it first — zero-hit canaries still get a row (an absent row
# is indistinguishable from a broken audit). Phrases drawn from the
# fixture vocabulary plus one deliberate miss.
# --------------------------------------------------------------------- #
@query(
    "q273_canary_exposure",
    oracle="""
    WITH can AS (
      SELECT unnest(['table value', 'fast merge', 'shuffle spill',
                     'zzz never planted']) AS canary)
    SELECT canary,
           CAST(SUM(CASE WHEN contains(text, canary) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs,
           MIN(CASE WHEN contains(text, canary) THEN doc_id END)
             AS first_doc_id
    FROM can CROSS JOIN documents
    GROUP BY canary
    """,
)
def q273_canary_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import canary_exposure

    docs = _t(spark, sf_dir, "documents")
    return canary_exposure(
        docs, "doc_id", "text",
        ["table value", "fast merge", "shuffle spill", "zzz never planted"],
    )


# --------------------------------------------------------------------- #
# Dedup-threshold sensitivity curve (composition over dedup.
# jaccard_pairs): the pair-similarity histogram a curation run reads to
# PICK its near-dup threshold — how many pairs a cutoff of 0.1/0.2/...
# would merge. Bins are floor(jaccard·10); the binned doubles are a
# deterministic function of the same ROUND(6) values q48 already
# hash-matches, so the histogram is engine-exact.
# --------------------------------------------------------------------- #
@query(
    "q274_dedup_sensitivity",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS id, unnest(list_distinct({_shingles('text', 2)})) AS s
      FROM documents),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 100),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (s) JOIN kept USING (s) WHERE a.id < b.id
      GROUP BY a.id, b.id),
    pairs AS (
      SELECT ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
      FROM common
      JOIN sizes sa ON sa.id = id_a
      JOIN sizes sb ON sb.id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1)
    SELECT CAST(FLOOR(jaccard * 10) AS INT) AS sim_bin,
           COUNT(*)::BIGINT AS n_pairs
    FROM pairs GROUP BY 1
    """,
)
def q274_dedup_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = dd.jaccard_pairs(docs, "doc_id", "text", k=2, threshold=0.1, max_df=100)
    return pairs.select(
        F.floor(F.col("jaccard") * 10).cast("int").alias("sim_bin")
    ).groupBy("sim_bin").agg(F.count(F.lit(1)).alias("n_pairs"))


# --------------------------------------------------------------------- #
# Mixture-plan card (planning.budget_allocation joined with per-source
# corpus stats): the artifact a mixture decision ships — per source,
# its doc count, token supply, water-filled allocation under a 30k
# global budget, implied epoch factor, and mean quality. The stats join
# is n_sources x n_sources.
# --------------------------------------------------------------------- #
@query(
    "q275_mixture_plan",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(COALESCE(SUM(len({_T})), 0) AS BIGINT) AS n,
             COUNT(*)::BIGINT AS n_docs,
             CAST(CAST(SUM(((5 * least(length(text)::BIGINT * 2500, 1000000)
               + 3 * least((len(list_filter({_T}, t -> t IN {_SW}))::BIGINT * 1000000
                            // greatest(len({_T}), 1)) * 5, 1000000)
               + 2 * (1000000 - least((length(regexp_replace(text, '[^.!?,;:]', '', 'g'))::BIGINT * 1000000
                            // greatest(length(text), 1)) * 10, 1000000))) // 10)) AS HUGEINT)
                  // COUNT(*) AS BIGINT) AS mean_q_ppm
      FROM documents WHERE source IS NOT NULL GROUP BY 1),
    r AS (
      SELECT source, n, n_docs, mean_q_ppm, n AS cap,
             row_number() OVER (ORDER BY n, source) AS i,
             COALESCE(SUM(n) OVER (
               ORDER BY n, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
             COUNT(*) OVER ()
               - row_number() OVER (ORDER BY n, source) + 1 AS rr
      FROM c),
    l AS (SELECT *, CAST(30000 - p AS HUGEINT) // rr AS level FROM r),
    kk AS (SELECT i AS ki, level AS cc, 30000 - p - level * rr AS rem
           FROM l WHERE i = (SELECT MIN(i) FROM l WHERE level < cap)),
    a AS (SELECT l.*, kk.ki, kk.cc, kk.rem FROM l LEFT JOIN kk ON TRUE),
    f AS (
      SELECT source, n, n_docs, mean_q_ppm,
             CAST(CASE WHEN ki IS NULL OR i < ki THEN cap
                  ELSE cc + (CASE WHEN i - ki < rem THEN 1 ELSE 0 END)
                  END AS BIGINT) AS alloc
      FROM a)
    SELECT source, n_docs, n AS n_tokens, alloc AS alloc_tokens,
           CAST(CAST(alloc AS HUGEINT) * 1000000
                // greatest(n, 1) AS BIGINT) AS epochs_ppm,
           mean_q_ppm
    FROM f
    """,
)
def q275_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.planning import budget_allocation

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        tx.token_count("text").alias("nt"),
        tx.quality_score_ppm("text").alias("qp"),
    )
    alloc = budget_allocation(docs, "source", "nt", total_budget=30_000)
    stats = docs.filter(F.col("source").isNotNull()).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            "CAST(CAST(sum(qp) AS DECIMAL(38,0)) div count(1) AS BIGINT)"
        ).alias("mean_q_ppm"),
    )
    return alloc.join(F.broadcast(stats), "source").select(
        "source", "n_docs", "n_tokens", "alloc_tokens", "epochs_ppm",
        "mean_q_ppm",
    )


# --------------------------------------------------------------------- #
# Chunk-level boilerplate audit (composition over text.chunk_text): the
# duplicated-context-window report — which exact 16-token chunks occur
# more than once, in how many documents, how many times. The RAG-side
# twin of line/paragraph dedup (q223/q129): duplicated chunks waste
# retrieval slots and leak across train/test splits.
# --------------------------------------------------------------------- #
@query(
    "q276_chunk_dedup",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_T} AS t FROM documents),
    st AS (SELECT doc_id, t,
                  unnest(generate_series(1, greatest(len(t), 1), 8)) AS s
           FROM toks),
    ch AS (SELECT doc_id, s, t[s : s + 15] AS c FROM st),
    chunks AS (
      -- same empty-vs-NULL list convention as q136's oracle
      SELECT doc_id,
             md5(CASE WHEN c IS NULL THEN NULL
                 ELSE coalesce(array_to_string(c, ' '), '') END) AS chunk_md5
      FROM ch WHERE len(c) = 16 OR s = 1)
    SELECT chunk_md5, COUNT(*)::BIGINT AS n_occurrences,
           COUNT(DISTINCT doc_id)::BIGINT AS n_docs
    FROM chunks GROUP BY 1 HAVING COUNT(*) >= 2
    """,
)
def q276_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    chunks = tx.chunk_text(docs, "doc_id", "text", window=16, stride=8)
    per_doc = chunks.groupBy("chunk_md5", "doc_id").agg(
        F.count(F.lit(1)).alias("__c")
    )
    return (
        per_doc.groupBy("chunk_md5")
        .agg(
            F.sum("__c").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )


# --------------------------------------------------------------------- #
# Tokenizer compression ratio (corpus analytics): per-source chars per
# BPE pre-token in exact ppm — THE tokenizer-efficiency metric (low
# chars/token = the vocabulary fragments that source; the aggregate
# sibling of q205's per-doc fertility). One scan, one tiny group agg.
# --------------------------------------------------------------------- #
@query(
    "q277_tokenizer_compression",
    oracle=f"""
    WITH s AS (
      SELECT source, length(text)::BIGINT AS nc,
             CAST(len(regexp_extract_all(lower(text), {_BPE_SQL})) AS BIGINT) AS nt
      FROM documents)
    SELECT source, CAST(SUM(nc) AS BIGINT) AS n_chars,
           CAST(SUM(nt) AS BIGINT) AS n_bpe_tokens,
           CAST(CAST(SUM(nc) AS HUGEINT) * 1000000
                // greatest(SUM(nt), 1) AS BIGINT) AS chars_per_token_ppm
    FROM s GROUP BY source
    """,
)
def q277_tokenizer_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "source",
        F.length("text").cast("bigint").alias("__nc"),
        tx.bpe_token_count("text").alias("__nt"),
    )
    return staged.groupBy("source").agg(
        F.sum("__nc").alias("n_chars"),
        F.sum("__nt").alias("n_bpe_tokens"),
        F.expr(
            "CAST(CAST(sum(__nc) AS DECIMAL(38,0)) * 1000000"
            " div CAST(greatest(sum(__nt), 1) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("chars_per_token_ppm"),
    )


# --------------------------------------------------------------------- #
# Language-ID confusion matrix (evaluation over text.lang_id): counts
# of (labeled lang, predicted lang) pairs — the accuracy report a
# lang-ID gate ships before it is trusted to route a multilingual
# crawl. Scan-fused prediction + one tiny two-key aggregate.
# --------------------------------------------------------------------- #
@query(
    "q278_lang_confusion",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                WHEN {_SCORE['dt']} > 0 THEN 'dt'
                ELSE 'und' END AS lang_pred,
           COUNT(*)::BIGINT AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def q278_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------- #
# Dedup savings card (composition over the exact-dedup digest rule):
# per source, how many docs and tokens survive global exact dedup
# (keep = min doc_id per normalized-content digest) and the token
# savings in ppm — "what did dedup buy us", the before/after line a
# curation run reports. Digest groupBy + one broadcast-size agg.
# --------------------------------------------------------------------- #
@query(
    "q279_dedup_savings",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len({_T}) AS BIGINT) AS nt,
             md5({_NORM.format(c='text')}) AS dg
      FROM documents),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY dg)
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN k.doc_id IS NOT NULL THEN nt ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(CAST(SUM(CASE WHEN k.doc_id IS NULL THEN nt ELSE 0 END) AS HUGEINT)
                * 1000000 // greatest(SUM(nt), 1) AS BIGINT) AS savings_ppm
    FROM d LEFT JOIN keep k USING (doc_id)
    GROUP BY source
    """,
)
def q279_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.dedup import normalize_text

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source",
        tx.token_count("text").alias("__nt"),
        F.md5(normalize_text("text")).alias("__dg"),
    )
    keep = docs.groupBy("__dg").agg(F.min("doc_id").alias("doc_id"))
    flagged = docs.join(
        keep.select("doc_id", F.lit(1).alias("__keep")), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.sum(F.col("__keep").isNotNull().cast("bigint")).alias("docs_kept"),
        F.sum(
            F.when(F.col("__keep").isNotNull(), F.col("__nt")).otherwise(0)
        ).alias("tokens_kept"),
        F.expr(
            "CAST(CAST(sum(CASE WHEN __keep IS NULL THEN __nt ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000"
            " div CAST(greatest(sum(__nt), 1) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("savings_ppm"),
    )


# --------------------------------------------------------------------- #
# Padding-waste report (composition over packing.length_bucket_batches):
# per power-2 length bucket, the padded-token cost (slots x cap summed
# over batches) vs real tokens, and the waste in ppm — the metric
# length-bucketed batching exists to minimize. Two bounded rollups over
# the q265 manifest.
# --------------------------------------------------------------------- #
@query(
    "q280_padding_waste",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, CAST(len({_T}) AS BIGINT) AS nt FROM documents),
    caps AS (
      -- NULL nt rides in the cap-1 bucket (engine: greatest(NULL,1)=1)
      SELECT doc_id, nt,
             CASE WHEN nt IS NULL OR nt <= 1 THEN 1
                  ELSE (1::BIGINT << length(bin(nt - 1))) END AS cap
      FROM q),
    idx AS (
      SELECT doc_id, nt, cap,
             ROW_NUMBER() OVER (
               PARTITION BY cap
               ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS i
      FROM caps),
    man AS (
      SELECT cap, CAST(i // GREATEST(4096 // cap, 1) AS BIGINT) AS batch_id,
             nt
      FROM idx),
    per_batch AS (
      SELECT cap, batch_id, COUNT(*)::BIGINT AS slots,
             CAST(SUM(nt) AS BIGINT) AS real_toks
      FROM man GROUP BY 1, 2)
    SELECT cap AS bucket_cap, COUNT(*)::BIGINT AS n_batches,
           CAST(SUM(slots) AS BIGINT) AS n_docs,
           CAST(SUM(real_toks) AS BIGINT) AS real_tokens,
           CAST(SUM(slots * cap) AS BIGINT) AS padded_tokens,
           CAST(CAST(SUM(slots * cap) - SUM(real_toks) AS HUGEINT) * 1000000
                // greatest(SUM(slots * cap), 1) AS BIGINT) AS waste_ppm
    FROM per_batch GROUP BY cap
    """,
)
def q280_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.packing import length_bucket_batches

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tx.token_count("text").alias("nt")
    )
    man = length_bucket_batches(docs, "doc_id", "nt", batch_tokens=4096, seed=0)
    per_batch = man.groupBy("bucket_cap", "batch_id").agg(
        F.count(F.lit(1)).alias("__slots"),
        F.sum("n_tokens").alias("__real"),
    )
    return per_batch.groupBy("bucket_cap").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("__slots").alias("n_docs"),
        F.sum("__real").alias("real_tokens"),
        F.sum(F.col("__slots") * F.col("bucket_cap")).alias("padded_tokens"),
        F.expr(
            "CAST(CAST(sum(__slots * bucket_cap) - sum(__real)"
            " AS DECIMAL(38,0)) * 1000000"
            " div CAST(greatest(sum(__slots * bucket_cap), 1)"
            " AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("waste_ppm"),
    )


# --------------------------------------------------------------------- #
# Term dispersion (textstats.term_dispersion): the corpus' most
# group-CONCENTRATED terms by Gries' deviation-of-proportions in exact
# ppm — "which vocabulary does the corpus owe to one source". The
# absent-group mass is folded algebraically (sum_g v_g + per-present
# corrections), so neither engine materializes vocab x groups.
# --------------------------------------------------------------------- #
@query(
    "q281_term_dispersion",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({_T}) AS term FROM documents
                 WHERE source IS NOT NULL),
    cgw AS (SELECT source, term, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY 1, 2),
    cw AS (SELECT term, CAST(SUM(cnt) AS BIGINT) AS cw FROM cgw GROUP BY 1),
    tg AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tg FROM cgw GROUP BY 1),
    tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM cgw),
    vg AS (SELECT source,
                  CAST(CAST(tg AS HUGEINT) * 1000000
                       // greatest(tot, 1) AS BIGINT) AS v
           FROM tg CROSS JOIN tt),
    vs AS (SELECT CAST(SUM(v) AS BIGINT) AS vsum FROM vg),
    sc AS (
      SELECT c.term, MAX(w.cw) AS total_cnt,
             COUNT(*)::BIGINT AS n_groups_present,
             CAST(SUM(abs(CAST(CAST(c.cnt AS HUGEINT) * 1000000
                               // greatest(w.cw, 1) AS BIGINT) - g.v)
                      - g.v) AS BIGINT) AS csum
      FROM cgw c JOIN cw w USING (term) JOIN vg g USING (source)
      GROUP BY c.term)
    SELECT term, total_cnt, n_groups_present,
           CAST((vsum + csum) // 2 AS BIGINT) AS dp_ppm
    FROM sc CROSS JOIN vs
    WHERE total_cnt >= 10
    QUALIFY row_number() OVER (
      ORDER BY dp_ppm DESC, total_cnt DESC, term) <= 15
    """,
)
def q281_term_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import term_dispersion

    docs = _t(spark, sf_dir, "documents")
    return term_dispersion(docs, "source", "text", top_k=15, min_count=10)


# --------------------------------------------------------------------- #
# Histogram drift (textstats.histogram_drift): doc-length distribution
# drift between the English and non-English halves of the corpus —
# per-bucket share deltas plus the exact total-variation distance in
# ppm, the number a data-pipeline drift monitor alarms on.
# --------------------------------------------------------------------- #
@query(
    "q282_histogram_drift",
    oracle="""
    WITH a AS (SELECT least(9, n_chars // 64) AS len_bucket,
                      COUNT(*)::BIGINT AS n_a
               FROM documents WHERE lang = 'en' GROUP BY 1),
    b AS (SELECT least(9, n_chars // 64) AS len_bucket,
                 COUNT(*)::BIGINT AS n_b
          FROM documents WHERE lang <> 'en' GROUP BY 1),
    j AS (SELECT COALESCE(a.len_bucket, b.len_bucket) AS len_bucket,
                 COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM a FULL OUTER JOIN b
          ON a.len_bucket IS NOT DISTINCT FROM b.len_bucket),
    t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                 CAST(SUM(n_b) AS BIGINT) AS tb FROM j),
    d AS (SELECT len_bucket, n_a, n_b,
                 CAST(CAST(n_a AS HUGEINT) * 1000000
                      // greatest(ta, 1) AS BIGINT) AS share_a_ppm,
                 CAST(CAST(n_b AS HUGEINT) * 1000000
                      // greatest(tb, 1) AS BIGINT) AS share_b_ppm
          FROM j CROSS JOIN t),
    dd AS (SELECT *, share_a_ppm - share_b_ppm AS delta_ppm FROM d),
    v AS (SELECT CAST(SUM(abs(delta_ppm)) // 2 AS BIGINT) AS tvd_ppm
          FROM dd)
    SELECT len_bucket, n_a, n_b, share_a_ppm, share_b_ppm, delta_ppm,
           tvd_ppm
    FROM dd CROSS JOIN v
    """,
)
def q282_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import histogram_drift

    docs = _t(spark, sf_dir, "documents")
    bucket = F.least(F.lit(9), F.expr("n_chars div 64")).alias("len_bucket")
    return histogram_drift(
        docs.filter(F.col("lang") == "en").select(bucket),
        docs.filter(F.col("lang") != "en").select(bucket),
        "len_bucket",
    )


# --------------------------------------------------------------------- #
# Streaming drift monitor (streaming/ops.drift_monitor_stream): the
# ONLINE twin of q282_histogram_drift — arriving non-English documents
# append per-bucket count partials; the live card is
# drift_from_counts(static EN reference, merged sink). Counts are
# additive, so drained == batch card exactly for any micro-batch
# boundaries; the oracle is therefore q282's SQL verbatim.
# --------------------------------------------------------------------- #
@query(
    "q283_stream_drift",
    oracle="""
    WITH a AS (SELECT least(9, n_chars // 64) AS len_bucket,
                      COUNT(*)::BIGINT AS n_a
               FROM documents WHERE lang = 'en' GROUP BY 1),
    b AS (SELECT least(9, n_chars // 64) AS len_bucket,
                 COUNT(*)::BIGINT AS n_b
          FROM documents WHERE lang <> 'en' GROUP BY 1),
    j AS (SELECT COALESCE(a.len_bucket, b.len_bucket) AS len_bucket,
                 COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM a FULL OUTER JOIN b
          ON a.len_bucket IS NOT DISTINCT FROM b.len_bucket),
    t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                 CAST(SUM(n_b) AS BIGINT) AS tb FROM j),
    d AS (SELECT len_bucket, n_a, n_b,
                 CAST(CAST(n_a AS HUGEINT) * 1000000
                      // greatest(ta, 1) AS BIGINT) AS share_a_ppm,
                 CAST(CAST(n_b AS HUGEINT) * 1000000
                      // greatest(tb, 1) AS BIGINT) AS share_b_ppm
          FROM j CROSS JOIN t),
    dd AS (SELECT *, share_a_ppm - share_b_ppm AS delta_ppm FROM d),
    v AS (SELECT CAST(SUM(abs(delta_ppm)) // 2 AS BIGINT) AS tvd_ppm
          FROM dd)
    SELECT len_bucket, n_a, n_b, share_a_ppm, share_b_ppm, delta_ppm,
           tvd_ppm
    FROM dd CROSS JOIN v
    """,
)
def q283_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import drift_monitor_stream, stream_events

    docs = _t(spark, sf_dir, "documents")
    bucket = F.least(F.lit(9), F.expr("n_chars div 64")).alias("len_bucket")
    ref = (
        docs.filter(F.col("lang") == "en")
        .select(bucket)
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    src = (
        stream_events(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("lang") != "en")
        .select(F.least(F.lit(9), F.expr("n_chars div 64")).alias("len_bucket"))
    )
    tmp = scratch_dir("sparkdab_drift_")
    return drift_monitor_stream(
        src, ref, "len_bucket", f"{tmp}/out", f"{tmp}/ckpt"
    )


# --------------------------------------------------------------------- #
# k-anonymity uniqueness audit (textstats.uniqueness_audit): how many
# documents the (lang, source, length-bucket) quasi-identifier can
# single out — the re-identification counterpart of q273's verbatim
# canary leak. All three k-classes always emit a row (literal class
# table LEFT JOIN, the canary discipline).
# --------------------------------------------------------------------- #
@query(
    "q284_uniqueness_audit",
    oracle="""
    WITH q AS (
      SELECT lang, source, least(9, n_chars // 64) AS lb FROM documents),
    combos AS (
      SELECT lang, source, lb, COUNT(*)::BIGINT AS k
      FROM q GROUP BY 1, 2, 3),
    agg AS (
      SELECT CASE WHEN k = 1 THEN '1' WHEN k <= 4 THEN '2-4'
                  ELSE '5+' END AS k_class,
             COUNT(*)::BIGINT AS n_combos,
             CAST(SUM(k) AS BIGINT) AS n_rows
      FROM combos GROUP BY 1),
    base AS (SELECT unnest(['1', '2-4', '5+']) AS k_class),
    t AS (SELECT COUNT(*)::BIGINT AS tot FROM documents)
    SELECT b.k_class,
           COALESCE(n_combos, 0) AS n_combos,
           COALESCE(n_rows, 0) AS n_rows,
           CAST(CAST(COALESCE(n_rows, 0) AS HUGEINT) * 1000000
                // greatest(tot, 1) AS BIGINT) AS row_share_ppm
    FROM base b LEFT JOIN agg USING (k_class) CROSS JOIN t
    """,
)
def q284_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import uniqueness_audit

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.least(F.lit(9), F.expr("n_chars div 64")).alias("lb"),
    )
    return uniqueness_audit(docs, ["lang", "source", "lb"])


# --------------------------------------------------------------------- #
# Corpus balance card (textstats.balance_card): concentration of the
# (lang, source) mixture — exact-integer Gini + fixed-point Shannon
# entropy over component shares, the read before budget_allocation
# re-weights anything. One map-side-combined count; everything after
# runs on the n_groups-row table.
# --------------------------------------------------------------------- #
@query(
    "q285_corpus_balance",
    oracle="""
    WITH c AS (
      SELECT lang, source, COUNT(*)::BIGINT AS n
      FROM documents GROUP BY 1, 2),
    t AS (
      SELECT CAST(COALESCE(SUM(n), 0) AS HUGEINT) AS t,
             COUNT(*)::HUGEINT AS g FROM c),
    r AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n, lang, source) AS i,
             CAST(CAST(round((CAST(n AS DOUBLE) / (SELECT t FROM t))
                             * ln(CAST((SELECT t FROM t) AS DOUBLE) / n), 6)
                  AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS e
      FROM c),
    s AS (
      SELECT COALESCE(SUM(CAST(i AS HUGEINT) * n), 0) AS s1,
             COALESCE(SUM(e), 0) AS se,
             COALESCE(MAX(n), 0) AS mx,
             COUNT(*)::HUGEINT AS k
      FROM r)
    SELECT k::BIGINT AS n_groups,
           (SELECT t FROM t)::BIGINT AS n_rows,
           CAST(CAST(mx AS HUGEINT) * 1000000
                // greatest((SELECT t FROM t), 1) AS BIGINT) AS top_share_ppm,
           CAST((2 * s1 - (k + 1) * (SELECT t FROM t)) * 1000000
                // greatest(k * (SELECT t FROM t), 1) AS BIGINT) AS gini_ppm,
           CAST(se AS BIGINT) AS entropy_me6,
           CAST(least(CAST(se AS HUGEINT) * 1000000
                // greatest(CAST(CAST(round(ln(CAST(greatest(k, 1) AS DOUBLE)), 6)
                                 AS DECIMAL(28,6)) * 1000000 AS BIGINT), 1),
                1000000) AS BIGINT) AS entropy_norm_ppm
    FROM s
    """,
)
def q285_corpus_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import balance_card

    return balance_card(_t(spark, sf_dir, "documents"), ["lang", "source"])


# --------------------------------------------------------------------- #
# Mixture-redundancy matrix (textstats.group_term_cosine): cosine
# similarity between per-source term-frequency vectors — which mixture
# components say the same things. Exact-integer dots/norms; IEEE sqrt
# is correctly rounded in both engines, so round-6 cosine is
# bit-portable.
# --------------------------------------------------------------------- #
@query(
    "q286_group_similarity",
    oracle=f"""
    WITH toks AS (
      SELECT source AS g, unnest({_T}) AS term
      FROM documents WHERE source IS NOT NULL),
    cgw AS (
      SELECT g, term, COUNT(*)::BIGINT AS c
      FROM toks GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    norms AS (
      SELECT g, SUM(CAST(c AS HUGEINT) * c) AS n2 FROM cgw GROUP BY 1)
    SELECT a.g AS group_a, b.g AS group_b,
           COUNT(*)::BIGINT AS n_shared_terms,
           round(CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
                 6) AS cosine
    FROM cgw a JOIN cgw b ON a.term = b.term AND a.g < b.g
    JOIN norms na ON na.g = a.g
    JOIN norms nb ON nb.g = b.g
    GROUP BY a.g, b.g, na.n2, nb.n2
    ORDER BY group_a, group_b
    """,
)
def q286_group_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import group_term_cosine

    docs = _t(spark, sf_dir, "documents")
    return group_term_cosine(docs, "source", "text", min_count=2).orderBy(
        "group_a", "group_b"
    )


# --------------------------------------------------------------------- #
# Annotation-agreement card (textstats.agreement_card): Cohen's kappa
# of the lang-ID heuristic against the gold lang label — the
# beats-chance scalar behind q278's confusion matrix. Exact-integer
# po/pe; kappa is one double division of exact integers, round 6.
# --------------------------------------------------------------------- #
@query(
    "q287_agreement_kappa",
    oracle=f"""
    WITH p AS (
      SELECT lang AS gold,
             CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                  WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                  WHEN {_SCORE['dt']} > 0 THEN 'dt'
                  ELSE 'und' END AS pred
      FROM documents),
    cm AS (SELECT gold, pred, COUNT(*)::BIGINT AS n FROM p GROUP BY 1, 2),
    t AS (
      SELECT CAST(COALESCE(SUM(n), 0) AS HUGEINT) AS t,
             CAST(COALESCE(SUM(CASE WHEN gold IS NOT DISTINCT FROM pred
                                    THEN n ELSE 0 END), 0) AS HUGEINT) AS d
      FROM cm),
    rm AS (SELECT gold AS l, CAST(SUM(n) AS HUGEINT) AS rn FROM cm GROUP BY 1),
    cl AS (SELECT pred AS l, CAST(SUM(n) AS HUGEINT) AS cn FROM cm GROUP BY 1),
    pe AS (
      SELECT COALESCE(SUM(rn * cn), 0) AS pe
      FROM rm JOIN cl ON rm.l IS NOT DISTINCT FROM cl.l)
    SELECT t::BIGINT AS n_rows, d::BIGINT AS n_agree,
           CAST(d * 1000000 // greatest(t, 1) AS BIGINT) AS po_ppm,
           CAST(pe * 1000000 // greatest(t * t, 1) AS BIGINT) AS pe_ppm,
           CASE WHEN t * t - pe = 0 THEN NULL
                ELSE round(CAST(t * d - pe AS DOUBLE)
                           / CAST(t * t - pe AS DOUBLE), 6) END AS kappa
    FROM t CROSS JOIN pe
    """,
)
def q287_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import agreement_card

    docs = _t(spark, sf_dir, "documents").select(
        "lang", tx.lang_id("text").alias("lang_pred")
    )
    return agreement_card(docs, "lang", "lang_pred")


# --------------------------------------------------------------------- #
# Zipf rank-frequency fit (textstats.zipf_card): OLS of ln(count) on
# ln(rank) over the top-100 vocabulary — the power-law corpus-health
# line. Per-row fixed-point ln (round 6, the PSI discipline) makes
# every cross-row OLS sum an exact integer in both engines; the
# slope/intercept/r² divisions are single double ops of exact ints.
# --------------------------------------------------------------------- #
@query(
    "q288_zipf_fit",
    oracle=f"""
    WITH vc AS (
      SELECT t AS term, COUNT(*)::BIGINT AS c
      FROM (SELECT unnest({_T}) AS t FROM documents) GROUP BY 1),
    top AS (SELECT term, c FROM vc ORDER BY c DESC, term LIMIT 100),
    rk AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS r FROM top),
    pts AS (
      SELECT CAST(CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(28,6))
                  * 1000000 AS BIGINT) AS x,
             CAST(CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(28,6))
                  * 1000000 AS BIGINT) AS y
      FROM rk),
    s AS (
      SELECT COUNT(*)::HUGEINT AS k,
             COALESCE(SUM(CAST(x AS HUGEINT)), 0) AS sx,
             COALESCE(SUM(CAST(y AS HUGEINT)), 0) AS sy,
             COALESCE(SUM(CAST(x AS HUGEINT) * y), 0) AS sxy,
             COALESCE(SUM(CAST(x AS HUGEINT) * x), 0) AS sxx,
             COALESCE(SUM(CAST(y AS HUGEINT) * y), 0) AS syy
      FROM pts)
    SELECT k::BIGINT AS n_terms,
           CASE WHEN k * sxx - sx * sx = 0 THEN NULL
                ELSE round(CAST(k * sxy - sx * sy AS DOUBLE)
                           / CAST(k * sxx - sx * sx AS DOUBLE), 6)
           END AS slope,
           CASE WHEN k * sxx - sx * sx = 0 THEN NULL
                ELSE round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                           / CAST(k * sxx - sx * sx AS DOUBLE) / 1e6, 6)
           END AS intercept,
           CASE WHEN k * sxx - sx * sx = 0 OR k * syy - sy * sy = 0 THEN NULL
                ELSE round((CAST(k * sxy - sx * sy AS DOUBLE)
                            * CAST(k * sxy - sx * sy AS DOUBLE))
                           / (CAST(k * sxx - sx * sx AS DOUBLE)
                              * CAST(k * syy - sy * sy AS DOUBLE)), 6)
           END AS r2
    FROM s
    """,
)
def q288_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import zipf_card

    return zipf_card(_t(spark, sf_dir, "documents"), "text", top_n=100)


# --------------------------------------------------------------------- #
# Robust per-group outlier card (select.grouped_mad_outliers): median /
# MAD / |x−med| > 3·MAD screen over doc length per language — BOTH
# quantile passes through the two-level grouped_weighted_quantiles, so
# no group-sized window even for continuous values. The oracle's naive
# window cumsum is equivalent (integer den·cum >= num·n boundary pick).
# --------------------------------------------------------------------- #
@query(
    "q289_mad_outliers",
    oracle="""
    WITH cv AS (
      SELECT lang, n_chars AS v, COUNT(*)::BIGINT AS w
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
    c1 AS (
      SELECT lang, v, w,
             SUM(w) OVER (PARTITION BY lang ORDER BY v) AS cw,
             SUM(w) OVER (PARTITION BY lang) AS n
      FROM cv),
    med AS (SELECT lang, MIN(v) AS median FROM c1 WHERE 2 * cw >= n GROUP BY 1),
    cvm AS (
      SELECT cv.lang, cv.v, cv.w, m.median, abs(cv.v - m.median) AS dev
      -- IS NOT DISTINCT FROM: a NULL lang is a real group in the
      -- engine (null-safe group keys); plain equality would drop it
      FROM cv JOIN med m ON cv.lang IS NOT DISTINCT FROM m.lang),
    dv AS (SELECT lang, dev, CAST(SUM(w) AS BIGINT) AS w FROM cvm GROUP BY 1, 2),
    c2 AS (
      SELECT lang, dev, w,
             SUM(w) OVER (PARTITION BY lang ORDER BY dev) AS cw,
             SUM(w) OVER (PARTITION BY lang) AS n
      FROM dv),
    mad AS (SELECT lang, MIN(dev) AS mad FROM c2 WHERE 2 * cw >= n GROUP BY 1)
    SELECT cvm.lang,
           CAST(SUM(w) AS BIGINT) AS n_rows,
           MAX(median) AS median,
           MAX(mad.mad) AS mad,
           CAST(SUM(CASE WHEN dev > 3 * mad.mad THEN w ELSE 0 END) AS BIGINT)
             AS n_outliers,
           CAST(CAST(SUM(CASE WHEN dev > 3 * mad.mad THEN w ELSE 0 END)
                     AS HUGEINT) * 1000000
                // greatest(SUM(w), 1) AS BIGINT) AS outlier_ppm
    FROM cvm JOIN mad ON cvm.lang IS NOT DISTINCT FROM mad.lang
    GROUP BY cvm.lang
    """,
)
def q289_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import grouped_mad_outliers

    docs = _t(spark, sf_dir, "documents")
    return grouped_mad_outliers(docs, "lang", "n_chars", k=3, n_groups_hint=8)


# --------------------------------------------------------------------- #
# Streaming k-anonymity monitor (streaming.ops.uniqueness_stream): the
# online twin of q284 — per-batch combo-count partials (additive; a
# combo's k-class legitimately migrates as twins arrive, which is why
# the sink stores combo counts and never pre-classified rollups) with
# (run_id, batch_id) replay markers; the drained card equals the batch
# card EXACTLY, so the oracle is q284's.
# --------------------------------------------------------------------- #
@query(
    "q290_stream_uniqueness",
    oracle="""
    WITH q AS (
      SELECT lang, source, least(9, n_chars // 64) AS lb FROM documents),
    combos AS (
      SELECT lang, source, lb, COUNT(*)::BIGINT AS k
      FROM q GROUP BY 1, 2, 3),
    agg AS (
      SELECT CASE WHEN k = 1 THEN '1' WHEN k <= 4 THEN '2-4'
                  ELSE '5+' END AS k_class,
             COUNT(*)::BIGINT AS n_combos,
             CAST(SUM(k) AS BIGINT) AS n_rows
      FROM combos GROUP BY 1),
    base AS (SELECT unnest(['1', '2-4', '5+']) AS k_class),
    t AS (SELECT COUNT(*)::BIGINT AS tot FROM documents)
    SELECT b.k_class,
           COALESCE(n_combos, 0) AS n_combos,
           COALESCE(n_rows, 0) AS n_rows,
           CAST(CAST(COALESCE(n_rows, 0) AS HUGEINT) * 1000000
                // greatest(tot, 1) AS BIGINT) AS row_share_ppm
    FROM base b LEFT JOIN agg USING (k_class) CROSS JOIN t
    """,
)
def q290_stream_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import stream_events, uniqueness_stream

    src = stream_events(spark, f"{sf_dir}/documents.parquet").select(
        "lang",
        "source",
        F.least(F.lit(9), F.expr("n_chars div 64")).alias("lb"),
    )
    tmp = scratch_dir("sparkdab_uniq_")
    return uniqueness_stream(
        src, ["lang", "source", "lb"], f"{tmp}/out", f"{tmp}/ckpt"
    )


# --------------------------------------------------------------------- #
# Streaming mixture-balance monitor (streaming.ops.balance_stream): the
# online twin of q285 — per-batch group-count partials (additive) with
# (run_id, batch_id) replay markers; the drained card equals the batch
# card exactly, so the oracle is q285's.
# --------------------------------------------------------------------- #
@query(
    "q291_stream_balance",
    oracle="""
    WITH c AS (
      SELECT lang, source, COUNT(*)::BIGINT AS n
      FROM documents GROUP BY 1, 2),
    t AS (
      SELECT CAST(COALESCE(SUM(n), 0) AS HUGEINT) AS t,
             COUNT(*)::HUGEINT AS g FROM c),
    r AS (
      SELECT n,
             ROW_NUMBER() OVER (ORDER BY n, lang, source) AS i,
             CAST(CAST(round((CAST(n AS DOUBLE) / (SELECT t FROM t))
                             * ln(CAST((SELECT t FROM t) AS DOUBLE) / n), 6)
                  AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS e
      FROM c),
    s AS (
      SELECT COALESCE(SUM(CAST(i AS HUGEINT) * n), 0) AS s1,
             COALESCE(SUM(e), 0) AS se,
             COALESCE(MAX(n), 0) AS mx,
             COUNT(*)::HUGEINT AS k
      FROM r)
    SELECT k::BIGINT AS n_groups,
           (SELECT t FROM t)::BIGINT AS n_rows,
           CAST(CAST(mx AS HUGEINT) * 1000000
                // greatest((SELECT t FROM t), 1) AS BIGINT) AS top_share_ppm,
           CAST((2 * s1 - (k + 1) * (SELECT t FROM t)) * 1000000
                // greatest(k * (SELECT t FROM t), 1) AS BIGINT) AS gini_ppm,
           CAST(se AS BIGINT) AS entropy_me6,
           CAST(least(CAST(se AS HUGEINT) * 1000000
                // greatest(CAST(CAST(round(ln(CAST(greatest(k, 1) AS DOUBLE)), 6)
                                 AS DECIMAL(28,6)) * 1000000 AS BIGINT), 1),
                1000000) AS BIGINT) AS entropy_norm_ppm
    FROM s
    """,
)
def q291_stream_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import balance_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/documents.parquet").select(
        "lang", "source"
    )
    tmp = scratch_dir("sparkdab_bal_")
    return balance_stream(
        src, ["lang", "source"], f"{tmp}/out", f"{tmp}/ckpt"
    )


# --------------------------------------------------------------------- #
# Embedding centroid-shift card (similarity.centroid_shift): per-label
# mean-vector drift between two snapshots (even vs odd vec_id — a
# re-embedded half against the original half). Exact per-(label, dim)
# micro-unit sums; truncating integral division for the centroid
# coordinates (Spark div == DuckDB // toward zero for signed sums);
# one correctly-rounded sqrt per output scalar.
# --------------------------------------------------------------------- #
@query(
    "q292_centroid_shift",
    oracle="""
    WITH x AS (
      SELECT vec_id, label,
             CAST(j - 1 AS INT) AS i,
             CAST(CAST(round(embedding[j]::DOUBLE, 6) AS DECIMAL(28,6))
                  * 1000000 AS BIGINT) AS xi
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(j)),
    a AS (
      SELECT label, i, CAST(SUM(xi) AS HUGEINT) AS sa,
             COUNT(*)::HUGEINT AS na
      FROM x WHERE vec_id % 2 = 0 GROUP BY 1, 2),
    b AS (
      SELECT label, i, CAST(SUM(xi) AS HUGEINT) AS sb,
             COUNT(*)::HUGEINT AS nb
      FROM x WHERE vec_id % 2 = 1 GROUP BY 1, 2),
    j AS (
      SELECT a.label, sa // na AS ma, sb // nb AS mb, na, nb
      FROM a JOIN b ON a.label IS NOT DISTINCT FROM b.label AND a.i = b.i),
    g AS (
      SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
             SUM(ma * mb) AS dot, SUM(ma * ma) AS n2a,
             SUM(mb * mb) AS n2b,
             SUM((ma - mb) * (ma - mb)) AS d2
      FROM j GROUP BY 1)
    SELECT label, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
           CASE WHEN n2a = 0 OR n2b = 0 THEN NULL
                ELSE round(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(n2a AS DOUBLE))
                              * sqrt(CAST(n2b AS DOUBLE))), 6) END AS cosine,
           round(sqrt(CAST(d2 AS DOUBLE)) / 1e6, 6) AS l2
    FROM g
    """,
)
def q292_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return sim.centroid_shift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        "label",
        "embedding",
    )


# --------------------------------------------------------------------- #
# Mutual-information card (textstats.mutual_info_card): how much the
# source column tells you about the language — the association read
# BETWEEN different label spaces (kappa needs one space), the
# redundancy check before adding a metadata column to a mixture key.
# Per-cell fixed-point terms => exact integer sums in both engines.
# --------------------------------------------------------------------- #
@query(
    "q293_mutual_info",
    oracle="""
    WITH cm AS (
      SELECT lang AS a, source AS b, COUNT(*)::BIGINT AS n
      FROM documents GROUP BY 1, 2),
    t AS (SELECT CAST(COALESCE(SUM(n), 0) AS HUGEINT) AS t FROM cm),
    rm AS (SELECT a, CAST(SUM(n) AS HUGEINT) AS na FROM cm GROUP BY 1),
    cb AS (SELECT b, CAST(SUM(n) AS HUGEINT) AS nb FROM cm GROUP BY 1),
    cells AS (
      SELECT CAST(CAST(round((CAST(n AS DOUBLE) / (SELECT t FROM t))
                    * ln((CAST((SELECT t FROM t) AS DOUBLE) * n)
                         / (CAST(na AS DOUBLE) * nb)), 6)
               AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS mi
      FROM cm JOIN rm ON cm.a IS NOT DISTINCT FROM rm.a
              JOIN cb ON cm.b IS NOT DISTINCT FROM cb.b),
    mi AS (SELECT COALESCE(SUM(mi), 0) AS mi, COUNT(*)::BIGINT AS cells
           FROM cells),
    ha AS (SELECT COALESCE(SUM(CAST(CAST(round(
             (CAST(na AS DOUBLE) / (SELECT t FROM t))
             * ln(CAST((SELECT t FROM t) AS DOUBLE) / na), 6)
             AS DECIMAL(28,6)) * 1000000 AS BIGINT)), 0) AS ha FROM rm),
    hb AS (SELECT COALESCE(SUM(CAST(CAST(round(
             (CAST(nb AS DOUBLE) / (SELECT t FROM t))
             * ln(CAST((SELECT t FROM t) AS DOUBLE) / nb), 6)
             AS DECIMAL(28,6)) * 1000000 AS BIGINT)), 0) AS hb FROM cb)
    SELECT (SELECT t FROM t)::BIGINT AS n_rows,
           cells AS n_cells,
           CAST(mi AS BIGINT) AS mi_me6,
           CAST(ha AS BIGINT) AS h_a_me6,
           CAST(hb AS BIGINT) AS h_b_me6,
           CAST(least(CAST(greatest(mi, 0) AS HUGEINT) * 1000000
                // greatest(least(ha, hb), 1), 1000000) AS BIGINT) AS nmi_ppm
    FROM mi CROSS JOIN ha CROSS JOIN hb
    """,
)
def q293_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import mutual_info_card

    return mutual_info_card(_t(spark, sf_dir, "documents"), "lang", "source")


# --------------------------------------------------------------------- #
# Cross-source chunk-overlap matrix (dedup.source_dup_matrix over
# chunk_text digests): which source PAIRS share 16-token content
# windows — the syndication/boilerplate redundancy matrix, the
# document-level complement of q286's term cosine. One (group, chunk)
# DISTINCT + a digest-keyed self-join bounded by n_groups² per digest.
# --------------------------------------------------------------------- #
@query(
    "q294_source_chunk_overlap",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {_T} AS t FROM documents),
    st AS (SELECT doc_id, source, t,
                  unnest(generate_series(1, greatest(len(t), 1), 8)) AS s
           FROM toks),
    ch AS (SELECT doc_id, source, s, t[s : s + 15] AS c FROM st),
    dg AS (
      -- same empty-vs-NULL list convention as q136's oracle: Spark
      -- array_join([]) = '' (the empty-doc chunk digests md5('') and
      -- DOES count as shared); a NULL token list stays NULL and the
      -- self-join on d drops it in both engines
      SELECT DISTINCT source AS g,
             md5(CASE WHEN c IS NULL THEN NULL
                 ELSE coalesce(array_to_string(c, ' '), '') END) AS d
      FROM ch WHERE len(c) = 16 OR s = 1),
    -- COUNT(d), not COUNT(*): the NULL digest (NULL-text chunks) is
    -- not a chunk — the engine's countDistinct skips it too
    sizes AS (SELECT g, COUNT(d)::BIGINT AS nd FROM dg GROUP BY 1)
    SELECT a.g AS group_a, b.g AS group_b,
           COUNT(*)::BIGINT AS n_shared,
           CAST(CAST(COUNT(*) AS HUGEINT) * 1000000
                // greatest(least(sa.nd, sb.nd), 1) AS BIGINT) AS overlap_ppm
    FROM dg a JOIN dg b ON a.d = b.d AND a.g < b.g
    JOIN sizes sa ON sa.g = a.g
    JOIN sizes sb ON sb.g = b.g
    GROUP BY a.g, b.g, sa.nd, sb.nd
    """,
)
def q294_source_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    chunks = tx.chunk_text(docs, "doc_id", "text", window=16, stride=8).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return dd.source_dup_matrix(
        chunks, "text", "source", key=F.col("chunk_md5")
    )


# --------------------------------------------------------------------- #
# Term burstiness (textstats.term_burstiness): Church-Gale variance-to-
# mean ratio of per-doc counts, zeros folded algebraically — the
# within-corpus clumping read (VMR 10⁶ = Poisson background; far above
# = topical/boilerplate clump, a dedup lead). Exact-integer VMR ppm.
# --------------------------------------------------------------------- #
@query(
    "q295_term_burstiness",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_T}) AS term FROM documents),
    pd AS (SELECT doc_id, term, COUNT(*)::BIGINT AS x
           FROM tok GROUP BY 1, 2),
    nn AS (SELECT COUNT(*)::HUGEINT AS nd FROM documents),
    sc AS (
      SELECT term, CAST(SUM(x) AS HUGEINT) AS cw,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sx2,
             COUNT(*)::BIGINT AS n_docs
      FROM pd GROUP BY 1 HAVING SUM(x) >= 10)
    SELECT term, CAST(cw AS BIGINT) AS total_cnt, n_docs,
           CAST((nd * sx2 - cw * cw) * 1000000
                // greatest(nd * cw, 1) AS BIGINT) AS vmr_ppm
    FROM sc CROSS JOIN nn
    ORDER BY vmr_ppm DESC, total_cnt DESC, term
    LIMIT 20
    """,
)
def q295_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import term_burstiness

    return term_burstiness(
        _t(spark, sf_dir, "documents"), "doc_id", "text", top_k=20, min_count=10
    )


# --------------------------------------------------------------------- #
# Streaming centroid-shift monitor (streaming.ops.centroid_shift_stream):
# the online twin of q292 — per-batch (label, dim) exact micro-unit sum
# partials (additive, so NO float ever crosses a batch boundary) with
# (run_id, batch_id) replay markers; the drained card equals the batch
# card exactly, so the oracle is q292's.
# --------------------------------------------------------------------- #
@query(
    "q296_stream_centroid",
    oracle="""
    WITH x AS (
      SELECT vec_id, label,
             CAST(j - 1 AS INT) AS i,
             CAST(CAST(round(embedding[j]::DOUBLE, 6) AS DECIMAL(28,6))
                  * 1000000 AS BIGINT) AS xi
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(j)),
    a AS (
      SELECT label, i, CAST(SUM(xi) AS HUGEINT) AS sa,
             COUNT(*)::HUGEINT AS na
      FROM x WHERE vec_id % 2 = 0 GROUP BY 1, 2),
    b AS (
      SELECT label, i, CAST(SUM(xi) AS HUGEINT) AS sb,
             COUNT(*)::HUGEINT AS nb
      FROM x WHERE vec_id % 2 = 1 GROUP BY 1, 2),
    j AS (
      SELECT a.label, sa // na AS ma, sb // nb AS mb, na, nb
      FROM a JOIN b ON a.label IS NOT DISTINCT FROM b.label AND a.i = b.i),
    g AS (
      SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
             SUM(ma * mb) AS dot, SUM(ma * ma) AS n2a,
             SUM(mb * mb) AS n2b,
             SUM((ma - mb) * (ma - mb)) AS d2
      FROM j GROUP BY 1)
    SELECT label, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
           CASE WHEN n2a = 0 OR n2b = 0 THEN NULL
                ELSE round(CAST(dot AS DOUBLE)
                           / (sqrt(CAST(n2a AS DOUBLE))
                              * sqrt(CAST(n2b AS DOUBLE))), 6) END AS cosine,
           round(sqrt(CAST(d2 AS DOUBLE)) / 1e6, 6) AS l2
    FROM g
    """,
)
def q296_stream_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.operators.similarity import centroid_sums
    from dabstract_spark.streaming.ops import centroid_shift_stream, stream_events

    emb = _t(spark, sf_dir, "embeddings")
    ref = centroid_sums(
        emb.filter(F.col("vec_id") % 2 == 0), "label", "embedding"
    )
    src = stream_events(spark, f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") % 2 == 1
    )
    tmp = scratch_dir("sparkdab_cshift_")
    return centroid_shift_stream(
        src, ref, "label", "embedding", f"{tmp}/out", f"{tmp}/ckpt"
    )


# --------------------------------------------------------------------- #
# Cluster-purity eval card (textstats.cluster_purity over q80's IVF
# assignment): purity + fixed-point NMI of (centroid_id, label) — the
# "are these clusters usable as a stratification key" read. The
# contingency collapse happens ONCE (mutual_info_from_counts shares the
# cell table with the majority pick).
# --------------------------------------------------------------------- #
@query(
    "q297_cluster_purity",
    oracle=f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, e.label, c.cid, {_cos_sql('e.embedding', 'c.cvec')} AS sim
      FROM embeddings e CROSS JOIN cent c),
    asg AS (
      SELECT vec_id, label, cid FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
    cm AS (SELECT cid, label, COUNT(*)::BIGINT AS n FROM asg GROUP BY 1, 2),
    t AS (SELECT CAST(COALESCE(SUM(n), 0) AS HUGEINT) AS t FROM cm),
    pur AS (
      SELECT COALESCE(SUM(maj), 0) AS p, COUNT(*)::BIGINT AS k
      FROM (SELECT cid, MAX(n) AS maj FROM cm GROUP BY 1)),
    labs AS (SELECT COUNT(*)::BIGINT AS nl
             FROM (SELECT DISTINCT label FROM cm)),
    rm AS (SELECT cid, CAST(SUM(n) AS HUGEINT) AS na FROM cm GROUP BY 1),
    cb AS (SELECT label, CAST(SUM(n) AS HUGEINT) AS nb FROM cm GROUP BY 1),
    cells AS (
      SELECT CAST(CAST(round((CAST(n AS DOUBLE) / (SELECT t FROM t))
                    * ln((CAST((SELECT t FROM t) AS DOUBLE) * n)
                         / (CAST(na AS DOUBLE) * nb)), 6)
               AS DECIMAL(28,6)) * 1000000 AS BIGINT) AS mi
      FROM cm JOIN rm ON cm.cid IS NOT DISTINCT FROM rm.cid
              JOIN cb ON cm.label IS NOT DISTINCT FROM cb.label),
    mi AS (SELECT COALESCE(SUM(mi), 0) AS mi FROM cells),
    ha AS (SELECT COALESCE(SUM(CAST(CAST(round(
             (CAST(na AS DOUBLE) / (SELECT t FROM t))
             * ln(CAST((SELECT t FROM t) AS DOUBLE) / na), 6)
             AS DECIMAL(28,6)) * 1000000 AS BIGINT)), 0) AS ha FROM rm),
    hb AS (SELECT COALESCE(SUM(CAST(CAST(round(
             (CAST(nb AS DOUBLE) / (SELECT t FROM t))
             * ln(CAST((SELECT t FROM t) AS DOUBLE) / nb), 6)
             AS DECIMAL(28,6)) * 1000000 AS BIGINT)), 0) AS hb FROM cb)
    SELECT (SELECT t FROM t)::BIGINT AS n_rows,
           k AS n_clusters, nl AS n_labels,
           CAST(CAST(p AS HUGEINT) * 1000000
                // greatest((SELECT t FROM t), 1) AS BIGINT) AS purity_ppm,
           CAST(least(CAST(greatest(mi, 0) AS HUGEINT) * 1000000
                // greatest(least(ha, hb), 1), 1000000) AS BIGINT) AS nmi_ppm
    FROM pur CROSS JOIN labs CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
    """,
)
def q297_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.textstats import cluster_purity

    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=8)
    asg = sim.ivf_assign(emb, cents).select("vec_id", "centroid_id")
    # lineage-truncate the compute-heavy assignment: the purity pick and
    # the MI sums both read the SAME contingency collapse of it
    labeled = asg.join(
        emb.select("vec_id", "label"), "vec_id"
    ).localCheckpoint(eager=False)
    return cluster_purity(labeled, "centroid_id", "label")


# --------------------------------------------------------------------- #
# Robust winsorization (select.winsorize_by_mad): per-row clipping to
# each language's [median − 3·MAD, median + 3·MAD] band — the
# materialization step behind q289's audit card (clip, don't drop).
# Exact integer band arithmetic; the oracle's naive window med/MAD is
# equivalent.
# --------------------------------------------------------------------- #
@query(
    "q298_winsorize",
    oracle="""
    WITH cv AS (
      SELECT lang, n_chars AS v, COUNT(*)::BIGINT AS w
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
    c1 AS (
      SELECT lang, v, w,
             SUM(w) OVER (PARTITION BY lang ORDER BY v) AS cw,
             SUM(w) OVER (PARTITION BY lang) AS n
      FROM cv),
    med AS (SELECT lang, MIN(v) AS median FROM c1 WHERE 2 * cw >= n GROUP BY 1),
    cvm AS (
      SELECT cv.lang, cv.v, cv.w, abs(cv.v - m.median) AS dev
      -- IS NOT DISTINCT FROM: a NULL lang is a real group in the
      -- engine (null-safe group keys); plain equality would drop it
      FROM cv JOIN med m ON cv.lang IS NOT DISTINCT FROM m.lang),
    dv AS (SELECT lang, dev, CAST(SUM(w) AS BIGINT) AS w FROM cvm GROUP BY 1, 2),
    c2 AS (
      SELECT lang, dev, w,
             SUM(w) OVER (PARTITION BY lang ORDER BY dev) AS cw,
             SUM(w) OVER (PARTITION BY lang) AS n
      FROM dv),
    mad AS (SELECT lang, MIN(dev) AS mad FROM c2 WHERE 2 * cw >= n GROUP BY 1),
    bands AS (
      SELECT m.lang, m.median - 3 * d.mad AS lo, m.median + 3 * d.mad AS hi
      FROM med m JOIN mad d ON m.lang IS NOT DISTINCT FROM d.lang)
    SELECT d.doc_id, d.lang, d.n_chars,
           CASE WHEN d.n_chars IS NOT NULL AND b.lo IS NOT NULL
                THEN least(greatest(d.n_chars, b.lo), b.hi) END
             AS n_chars_winsorized,
           CASE WHEN d.n_chars IS NOT NULL AND b.lo IS NOT NULL
                     AND (d.n_chars < b.lo OR d.n_chars > b.hi)
                THEN 1 ELSE 0 END AS was_clipped
    FROM documents d LEFT JOIN bands b ON d.lang IS NOT DISTINCT FROM b.lang
    """,
)
def q298_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import winsorize_by_mad

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return winsorize_by_mad(docs, "lang", "n_chars", k=3, n_groups_hint=8)


# --------------------------------------------------------------------- #
# Streaming agreement monitor (streaming.ops.agreement_stream): the
# online twin of q287 — per-batch (gold, pred) confusion partials
# (additive) with (run_id, batch_id) replay markers; the drained card
# equals the batch card exactly, so the oracle is q287's.
# --------------------------------------------------------------------- #
@query(
    "q299_stream_agreement",
    oracle=f"""
    WITH p AS (
      SELECT lang AS gold,
             CASE WHEN {_SCORE['qy']} > greatest({_SCORE['dt']}, {_SCORE['en']}, 0) THEN 'qy'
                  WHEN {_SCORE['en']} > greatest({_SCORE['dt']}, 0) THEN 'en'
                  WHEN {_SCORE['dt']} > 0 THEN 'dt'
                  ELSE 'und' END AS pred
      FROM documents),
    cm AS (SELECT gold, pred, COUNT(*)::BIGINT AS n FROM p GROUP BY 1, 2),
    t AS (
      SELECT CAST(COALESCE(SUM(n), 0) AS HUGEINT) AS t,
             CAST(COALESCE(SUM(CASE WHEN gold IS NOT DISTINCT FROM pred
                                    THEN n ELSE 0 END), 0) AS HUGEINT) AS d
      FROM cm),
    rm AS (SELECT gold AS l, CAST(SUM(n) AS HUGEINT) AS rn FROM cm GROUP BY 1),
    cl AS (SELECT pred AS l, CAST(SUM(n) AS HUGEINT) AS cn FROM cm GROUP BY 1),
    pe AS (
      SELECT COALESCE(SUM(rn * cn), 0) AS pe
      FROM rm JOIN cl ON rm.l IS NOT DISTINCT FROM cl.l)
    SELECT t::BIGINT AS n_rows, d::BIGINT AS n_agree,
           CAST(d * 1000000 // greatest(t, 1) AS BIGINT) AS po_ppm,
           CAST(pe * 1000000 // greatest(t * t, 1) AS BIGINT) AS pe_ppm,
           CASE WHEN t * t - pe = 0 THEN NULL
                ELSE round(CAST(t * d - pe AS DOUBLE)
                           / CAST(t * t - pe AS DOUBLE), 6) END AS kappa
    FROM t CROSS JOIN pe
    """,
)
def q299_stream_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import agreement_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/documents.parquet").select(
        "lang", tx.lang_id("text").alias("lang_pred")
    )
    tmp = scratch_dir("sparkdab_agr_")
    return agreement_stream(
        src, "lang", "lang_pred", f"{tmp}/out", f"{tmp}/ckpt"
    )


# --------------------------------------------------------------------- #
# Largest-remainder apportionment (planning.proportional_allocation):
# exactly 1000 eval rows split across sources proportional to corpus
# share — the mixture-preserving planner next to the max-min
# water-filling budget (q271). Exact integer quotas/remainders,
# deterministic award rank, Σalloc == n_total.
# --------------------------------------------------------------------- #
@query(
    "q300_apportion_eval",
    oracle="""
    WITH c AS (SELECT source AS g, COUNT(*)::BIGINT AS c
               FROM documents GROUP BY 1),
    t AS (SELECT CAST(COALESCE(SUM(c), 0) AS HUGEINT) AS t FROM c),
    r AS (
      SELECT g, c,
             CAST((CAST(1000 AS HUGEINT) * c)
                  // greatest((SELECT t FROM t), 1) AS BIGINT) AS base,
             CAST((CAST(1000 AS HUGEINT) * c)
                  % greatest((SELECT t FROM t), 1) AS BIGINT) AS rem
      FROM c),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, c DESC, g ASC NULLS LAST) AS rk,
             SUM(base) OVER () AS sb
      FROM r)
    SELECT g AS source, c AS n_rows,
           CAST(CAST(c AS HUGEINT) * 1000000
                // greatest((SELECT t FROM t), 1) AS BIGINT) AS share_ppm,
           CAST(base + CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_rows,
           CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END AS got_remainder,
           CASE WHEN base + (CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END) > c
                THEN 1 ELSE 0 END AS overfill
    FROM rk
    """,
)
def q300_apportion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.planning import proportional_allocation

    return proportional_allocation(
        _t(spark, sf_dir, "documents"), "source", n_total=1000
    )


# --------------------------------------------------------------------- #
# Robust per-group volume trend (events.theil_sen_trend): Theil-Sen
# median-of-pairwise-slopes over daily event counts — the outlier-proof
# drift read next to zipf_card's OLS. Exact integer slopes
# ((Δcount)·10⁶ div Δday, truncation toward zero in both engines) and an
# exact lower-median pick; the pair table is calendar-bounded
# (n_days² per group), never data-sized.
# --------------------------------------------------------------------- #
@query(
    "q301_robust_trend",
    oracle="""
    WITH c AS (
      SELECT event_type AS g,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
             COUNT(*)::BIGINT AS c
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.g, a.d AS d1, b.d AS d2,
             CAST((b.c - a.c) * CAST(1000000 AS BIGINT) // (b.d - a.d)
                  AS BIGINT) AS s
      FROM c a JOIN c b ON a.g IS NOT DISTINCT FROM b.g AND a.d < b.d),
    r AS (
      SELECT g, s,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY s, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM p),
    nd AS (SELECT g, COUNT(*)::BIGINT AS n_buckets FROM c GROUP BY g)
    SELECT r.g AS event_type, nd.n_buckets, r.n AS n_pairs,
           r.s AS slope_ppm_per_bucket
    FROM r JOIN nd ON r.g IS NOT DISTINCT FROM nd.g
    WHERE rn = (n + 1) // 2
    """,
)
def q301_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.theil_sen_trend(
        _t(spark, sf_dir, "events"), "event_type", "ts", bucket_sec=86_400
    )


def _lsh_plan_sql(n_hashes: int, grid: tuple[int, ...]) -> str:
    """DuckDB replay of lsh_parameter_plan: the IDENTICAL unrolled
    multiply-then-round(·,6) float64 ladder per factorization (exponents
    are literals, so the SQL is generated, never data-dependent)."""
    values = ", ".join(f"({s})" for s in grid)
    branches = []
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        r = n_hashes // b
        t = "s6"
        for _ in range(r - 1):
            t = f"round(({t}) * s6, 6)"
        q = f"round(1.0 - ({t}), 6)"
        u = q
        for _ in range(b - 1):
            u = f"round(({u}) * ({q}), 6)"
        p = f"round(1.0 - ({u}), 6)"
        branches.append(
            f"SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows_per_band,"
            f" s_ppm, CAST(CAST({p} AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
            " AS p_collide_ppm FROM g"
        )
    return (
        "WITH v(s_ppm) AS (VALUES " + values + "),\n"
        "g AS (SELECT CAST(s_ppm AS BIGINT) AS s_ppm,"
        " s_ppm / 1000000.0 AS s6 FROM v)\n" + "\nUNION ALL\n".join(branches)
    )


# --------------------------------------------------------------------- #
# LSH banding planner (dedup.lsh_parameter_plan): the p = 1-(1-s^r)^b
# S-curve per (bands, rows) factorization over a similarity grid — the
# read that picks MinHash banding for a target near-dup threshold
# BEFORE the 100 TB pair job; sibling of q202's estimator-quality eval.
# Deterministic unrolled round(·,6) ladders; no data touched.
# --------------------------------------------------------------------- #
@query(
    "q302_lsh_plan",
    oracle=_lsh_plan_sql(16, tuple(range(50_000, 1_000_000, 50_000))),
)
def q302_lsh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.lsh_parameter_plan(spark, n_hashes=16)


_HLL_SQL_CARD = """
    WITH r AS (
      SELECT event_type AS g,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT AS bucket,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 12))::BIGINT AS v
      FROM events WHERE user_id IS NOT NULL),
    m AS (SELECT g, bucket,
                 MAX(CASE WHEN v > 0 THEN 49 - length(bin(v)) ELSE 49 END) AS M
          FROM r GROUP BY 1, 2),
    s AS (SELECT g, COUNT(*)::BIGINT AS np,
                 CAST(SUM(CAST(1 AS BIGINT) << (50 - M)) AS BIGINT) AS sp
          FROM m GROUP BY 1),
    c AS (SELECT g, CAST(256 - np AS BIGINT) AS v_zero,
                 CAST(sp + (256 - np) * (CAST(1 AS BIGINT) << 50) AS BIGINT)
                   AS s_scaled
          FROM s),
    e AS (SELECT *, 5.2999162811336204e19 / CAST(s_scaled AS DOUBLE) AS E FROM c)
    SELECT g AS event_type, v_zero, s_scaled,
           CAST(CAST(round(CASE WHEN E <= 640.0 AND v_zero > 0
                     THEN 256.0 * ln(256.0 / v_zero) ELSE E END, 6)
                AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS estimate_micro
    FROM e
"""


# --------------------------------------------------------------------- #
# Deterministic md5 HyperLogLog distinct card (sketches.hll_distinct
# family): the exact-arithmetic, value-ORACLED sibling of q176's
# built-in Datasketches HLL (which can only be guard-checked). Register
# shuffle is ≤ 256 rows per group after map-side combine; the harmonic
# denominator is an exact BIGINT (Σ 2^(50−M) < 2^59); one double
# division + at most one ln at the very end.
# --------------------------------------------------------------------- #
@query("q303_hll_distinct", oracle=_HLL_SQL_CARD)
def q303_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.sketches import hll_distinct_card

    return hll_distinct_card(
        _t(spark, sf_dir, "events"), "user_id", ("event_type",)
    )


# --------------------------------------------------------------------- #
# Streaming HLL distinct monitor (streaming.ops.hll_stream): per-batch
# partial register tables merged by MAX — idempotent AND commutative, so
# stream == batch EXACTLY for any batching, any replay, any overlap (the
# strongest twin guarantee in the module; no dedup markers needed).
# Oracle = the identical batch card SQL.
# --------------------------------------------------------------------- #
@query("q304_stream_hll", oracle=_HLL_SQL_CARD)
def q304_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import hll_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/events.parquet").select(
        "event_type", "user_id"
    )
    tmp = scratch_dir("sparkdab_hll_")
    return hll_stream(
        src, "user_id", ["event_type"], f"{tmp}/out", f"{tmp}/ckpt"
    )


# --------------------------------------------------------------------- #
# Streaming robust-trend monitor (streaming.ops.trend_stream): per-batch
# (group, day) count partials with (run_id, batch_id) replay markers;
# live card = theil_sen_from_counts(merge-by-sum) — additive counts =>
# drained == batch card exactly. Oracle = q301's batch SQL verbatim.
# --------------------------------------------------------------------- #
@query(
    "q305_stream_trend",
    oracle="""
    WITH c AS (
      SELECT event_type AS g,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
             COUNT(*)::BIGINT AS c
      FROM events GROUP BY 1, 2),
    p AS (
      SELECT a.g, a.d AS d1, b.d AS d2,
             CAST((b.c - a.c) * CAST(1000000 AS BIGINT) // (b.d - a.d)
                  AS BIGINT) AS s
      FROM c a JOIN c b ON a.g IS NOT DISTINCT FROM b.g AND a.d < b.d),
    r AS (
      SELECT g, s,
             ROW_NUMBER() OVER (PARTITION BY g ORDER BY s, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM p),
    nd AS (SELECT g, COUNT(*)::BIGINT AS n_buckets FROM c GROUP BY g)
    SELECT r.g AS event_type, nd.n_buckets, r.n AS n_pairs,
           r.s AS slope_ppm_per_bucket
    FROM r JOIN nd ON r.g IS NOT DISTINCT FROM nd.g
    WHERE rn = (n + 1) // 2
    """,
)
def q305_stream_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import stream_events, trend_stream

    src = stream_events(spark, f"{sf_dir}/events.parquet").select(
        "event_type", "ts"
    )
    tmp = scratch_dir("sparkdab_trend_")
    return trend_stream(src, "event_type", f"{tmp}/out", f"{tmp}/ckpt")


# --------------------------------------------------------------------- #
# Weighted exact-N sampling (select.weighted_sample_n): the
# Efraimidis-Spirakis exponential race — keep the n smallest
# round(-ln(u)/w, 6) with u a deterministic md5 uniform in (0,1] — so
# inclusion is proportional to weight, without replacement,
# seed-reproducible. The global top-n routes through the two-level
# 256-bucket budget machinery (no single-task sort, no data-scale
# TakeOrdered). Weight here = n_chars + 1 (always positive).
# --------------------------------------------------------------------- #
@query(
    "q306_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, CAST(n_chars + 1 AS DOUBLE) AS w,
             round(-ln((('0x' || substr(md5('3:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                       / 4294967296.0)
                   / CAST(n_chars + 1 AS DOUBLE), 6) AS e
      FROM documents WHERE n_chars + 1 > 0 AND doc_id IS NOT NULL)
    SELECT doc_id, w AS weight,
           CAST(ROW_NUMBER() OVER (ORDER BY e, doc_id) AS BIGINT) AS sample_rank
    FROM k
    QUALIFY ROW_NUMBER() OVER (ORDER BY e, doc_id) <= 500
    """,
)
def q306_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import weighted_sample_n

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") + 1).alias("__wt")
    )
    return weighted_sample_n(docs, 500, "__wt", seed=3, key="doc_id")


# --------------------------------------------------------------------- #
# Streaming weighted reservoir (streaming.ops.weighted_sample_stream):
# per-batch top-n of the exponential race appended to the sink; live
# sample = top-n over the key-deduped union — exact for any batching
# (every global winner is inside its own batch's top-n; the race key is
# a pure function of the key). Oracle = q306's batch SQL verbatim.
# --------------------------------------------------------------------- #
@query(
    "q307_stream_weighted_sample",
    oracle="""
    WITH k AS (
      SELECT doc_id, CAST(n_chars + 1 AS DOUBLE) AS w,
             round(-ln((('0x' || substr(md5('3:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                       / 4294967296.0)
                   / CAST(n_chars + 1 AS DOUBLE), 6) AS e
      FROM documents WHERE n_chars + 1 > 0 AND doc_id IS NOT NULL)
    SELECT doc_id, w AS weight,
           CAST(ROW_NUMBER() OVER (ORDER BY e, doc_id) AS BIGINT) AS sample_rank
    FROM k
    QUALIFY ROW_NUMBER() OVER (ORDER BY e, doc_id) <= 500
    """,
)
def q307_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import stream_events, weighted_sample_stream

    src = stream_events(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", (F.col("n_chars") + 1).alias("__wt")
    )
    tmp = scratch_dir("sparkdab_wres_")
    return weighted_sample_stream(
        src, 500, "__wt", f"{tmp}/out", f"{tmp}/ckpt", seed=3, key="doc_id"
    )


# --------------------------------------------------------------------- #
# KMV / theta distinct-overlap matrix (sketches.kmv_intersect_card): the
# set-INTERSECTION sketch HLL cannot express — per event-type pair, the
# estimated distinct-user overlap from the k smallest md5 values per
# group (theta intersection: common kept values below min(theta_a,
# theta_b) are a uniform sample of the true intersection). Every
# estimate is exact integer arithmetic, so the card is value-oracled;
# the sketch table is <= n_groups*k rows, all joins broadcast-sized.
# --------------------------------------------------------------------- #
@query(
    "q308_kmv_overlap",
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type AS g,
             substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS h
      FROM events WHERE user_id IS NOT NULL),
    s AS (SELECT g, h FROM d
          QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) <= 256),
    t AS (SELECT g, COUNT(*)::BIGINT AS n,
                 MAX(('0x' || h)::BIGINT) AS hk
          FROM s GROUP BY g),
    th AS (SELECT g, n,
                  CASE WHEN n < 256 THEN CAST(281474976710656 AS BIGINT)
                       ELSE hk + 1 END AS theta
           FROM t),
    e AS (SELECT g,
                 CASE WHEN n < 256 THEN n
                      ELSE CAST(CAST(255 AS BIGINT) * 281474976710656
                                // (hk + 1) AS BIGINT) END AS est
          FROM t),
    p AS (SELECT a.g AS ga, b.g AS gb,
                 least(ta.theta, tb.theta) AS tmin,
                 COUNT(*)::BIGINT AS nc
          FROM s a JOIN s b ON a.h = b.h AND a.g < b.g
          JOIN th ta ON ta.g = a.g JOIN th tb ON tb.g = b.g
          WHERE ('0x' || a.h)::BIGINT < least(ta.theta, tb.theta)
          GROUP BY 1, 2, 3),
    x AS (SELECT ga, gb, nc, tmin,
                 CAST(nc * CAST(281474976710656 AS BIGINT) // tmin AS BIGINT)
                   AS ei
          FROM p)
    SELECT ga AS group_a, gb AS group_b, nc AS n_common_sample,
           ea.est AS est_a, eb.est AS est_b, ei AS est_intersection,
           CAST(least(CAST(ei AS HUGEINT) * 1000000
                      // greatest(CAST(ea.est AS HUGEINT) + eb.est - ei, 1),
                      1000000) AS BIGINT) AS jaccard_ppm
    FROM x JOIN e ea ON ea.g = ga JOIN e eb ON eb.g = gb
    """,
)
def q308_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.sketches import kmv_intersect_card, kmv_partials

    sk = kmv_partials(
        _t(spark, sf_dir, "events"), "user_id", ("event_type",), k=256
    )
    return kmv_intersect_card(sk, "event_type", k=256)


# --------------------------------------------------------------------- #
# Stratified eval split, end to end (select.stratified_sample): Hamilton
# apportionment of exactly 200 rows across sources (q300's planner)
# materialized by drawing each source's quota as its md5-smallest
# members via the two-level variable-cap rank — the mixture-preserving
# "give me an eval set that matches the corpus" one-liner.
# --------------------------------------------------------------------- #
@query(
    "q309_stratified_sample",
    oracle="""
    WITH c AS (SELECT source AS g, COUNT(*)::BIGINT AS c
               FROM documents WHERE doc_id IS NOT NULL GROUP BY 1),
    t AS (SELECT CAST(COALESCE(SUM(c), 0) AS HUGEINT) AS t FROM c),
    r AS (
      SELECT g, c,
             CAST((CAST(200 AS HUGEINT) * c)
                  // greatest((SELECT t FROM t), 1) AS BIGINT) AS base,
             CAST((CAST(200 AS HUGEINT) * c)
                  % greatest((SELECT t FROM t), 1) AS BIGINT) AS rem
      FROM c),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, c DESC, g ASC NULLS LAST) AS rk,
             SUM(base) OVER () AS sb
      FROM r),
    alloc AS (
      SELECT g, base + CASE WHEN rk <= 200 - sb THEN 1 ELSE 0 END AS alloc
      FROM rk),
    ranked AS (
      SELECT d.doc_id, d.source, a.alloc,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5('11:' || CAST(d.doc_id AS VARCHAR)), d.doc_id
             ) AS rn
      FROM documents d JOIN alloc a ON d.source IS NOT DISTINCT FROM a.g
      WHERE d.doc_id IS NOT NULL)
    SELECT doc_id, source, CAST(rn AS BIGINT) AS strat_rank
    FROM ranked WHERE rn <= alloc
    """,
)
def q309_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.operators.select import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), "source", n_total=200, seed=11, key="doc_id"
    )


# --------------------------------------------------------------------- #
# Streaming KMV distinct monitor (streaming.ops.kmv_stream): per-batch
# k-smallest hash partials merged by k-smallest-of-union — idempotent
# and commutative like the HLL register max, so stream == batch exactly
# for any batching/replay. Oracle = the batch kmv_estimate SQL.
# --------------------------------------------------------------------- #
@query(
    "q310_stream_kmv",
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type AS g,
             substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS h
      FROM events WHERE user_id IS NOT NULL),
    s AS (SELECT g, h FROM d
          QUALIFY ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) <= 256),
    t AS (SELECT g, COUNT(*)::BIGINT AS n,
                 MAX(('0x' || h)::BIGINT) AS hk
          FROM s GROUP BY g)
    SELECT g AS event_type, n AS n_kept,
           CASE WHEN n < 256 THEN n
                ELSE CAST(CAST(255 AS BIGINT) * 281474976710656
                          // (hk + 1) AS BIGINT) END AS est_distinct
    FROM t
    """,
)
def q310_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dabstract_spark.streaming.ops import kmv_stream, stream_events

    src = stream_events(spark, f"{sf_dir}/events.parquet").select(
        "event_type", "user_id"
    )
    tmp = scratch_dir("sparkdab_kmv_")
    return kmv_stream(
        src, "user_id", ["event_type"], f"{tmp}/out", f"{tmp}/ckpt", k=256
    )


# --------------------------------------------------------------------- #
# IVF-PQ quantized ANN (similarity.ivf_pq_topk; Jégou et al. 2011) —
# the product-quantization memory answer at 100 TB: a vector stores as
# one coarse cell + 8 sub-codes, scoring is ADC lookup-table sums over
# the probed cells' inverted lists. EVERY step is exact integer
# arithmetic (micro-unit coords, integer Lloyd means with truncating
# division, first-position-of-min tie-breaks), so the oracle replays
# the full pipeline — coarse assign → residuals → seeded codebooks →
# one Lloyd step → encode → probes → ADC — value-exactly in SQL.
# --------------------------------------------------------------------- #
def _pq_d_sql(a: str, b: str, d: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {d}),"
        f" j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))"
    )


def _ivf_pq_ctes(n_coarse=8, m=8, sub=8, pq_k=16, nprobe=2, coarse_iters=1) -> str:
    vm = (
        "list_transform(embedding, x -> CAST(CAST(round(x::DOUBLE, 6)"
        " AS DECIMAL(18,6)) * 1000000 AS BIGINT))"
    )
    sums = ", ".join(f"SUM(x[{j + 1}]) AS s{j}" for j in range(sub))
    mean_list = "[" + ", ".join(
        f"CAST(m0.s{j} // m0.n AS BIGINT)" for j in range(sub)
    ) + "]"
    csums = ", ".join(f"SUM(vm[{j + 1}]) AS t{j}" for j in range(m * sub))
    cmean = "[" + ", ".join(
        f"CAST(cm.t{j} // cm.n AS BIGINT)" for j in range(m * sub)
    ) + "]"
    # coarse integer-Lloyd chain (mirrors ivf_pq_train coarse_iters):
    # assign -> per-cell integer mean (// truncating), empty keeps seed
    refine, co_prev = "", "co0"
    for it in range(coarse_iters):
        nxt = f"co{it + 1}"
        refine += f""",
    ca{it} AS (
      SELECT vec_id, cell, vm FROM (
        SELECT v.vec_id, c.cell, v.vm, {_pq_d_sql('v.vm', 'c.cv', m * sub)} AS d
        FROM v CROSS JOIN {co_prev} c)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1),
    cm{it} AS (SELECT cell, COUNT(*)::BIGINT AS n, {csums}
               FROM ca{it} GROUP BY cell),
    {nxt} AS (
      SELECT c.cell, CASE WHEN cm.n IS NULL THEN c.cv ELSE {cmean} END AS cv
      FROM {co_prev} c LEFT JOIN cm{it} cm USING (cell))"""
        co_prev = nxt
    return f"""v AS (SELECT vec_id, {vm} AS vm FROM embeddings),
    -- seed order = md5(id) rank (id tie-break): the engine's unbiased
    -- deterministic draw; rank-1 IS the cell / code index
    vr AS (SELECT vec_id, vm,
                  CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                          vec_id) - 1 AS BIGINT) AS mrank
           FROM v),
    co0 AS (SELECT mrank AS cell, vm AS cv FROM vr WHERE mrank < {n_coarse}){refine},
    co AS (SELECT * FROM {co_prev}),
    cell_of AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, co.cell, {_pq_d_sql('v.vm', 'co.cv', 64)} AS d
        FROM v CROSS JOIN co)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) = 1),
    res AS (
      SELECT v.vec_id, c.cell,
             list_transform(generate_series(1, 64), j -> v.vm[j] - co.cv[j]) AS r
      FROM v JOIN cell_of c USING (vec_id) JOIN co ON co.cell = c.cell),
    sx AS (
      SELECT vec_id, cell, s, r[s * {sub} + 1 : s * {sub} + {sub}] AS x
      FROM res, UNNEST(generate_series(0, {m - 1})) t(s)),
    seeds AS (SELECT sx.s, vr.mrank AS code, sx.x AS cv
              FROM sx JOIN vr USING (vec_id) WHERE vr.mrank < {pq_k}),
    a0 AS (
      SELECT vec_id, s, x, code FROM (
        SELECT sx.vec_id, sx.s, sx.x, sd.code,
               {_pq_d_sql('sx.x', 'sd.cv', sub)} AS d
        FROM sx JOIN seeds sd USING (s))
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, code) = 1),
    m0 AS (SELECT s, code, COUNT(*)::BIGINT AS n, {sums}
           FROM a0 GROUP BY s, code),
    cb AS (
      -- integer Lloyd mean, // truncating toward zero (== Spark div);
      -- empty clusters keep their seed
      SELECT seeds.s, seeds.code,
             CASE WHEN m0.n IS NULL THEN seeds.cv ELSE {mean_list} END AS cv
      FROM seeds LEFT JOIN m0 ON m0.s = seeds.s AND m0.code = seeds.code),
    codes AS (
      SELECT vec_id, cell, s, code FROM (
        SELECT sx.vec_id, sx.cell, sx.s, cb.code,
               {_pq_d_sql('sx.x', 'cb.cv', sub)} AS d
        FROM sx JOIN cb ON cb.s = sx.s)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, code) = 1),
    qv AS (SELECT vec_id AS query_id, vm AS qm FROM v WHERE vec_id < 5),
    qprobe AS (
      SELECT query_id, cell, qm FROM (
        SELECT q.query_id, co.cell, q.qm, {_pq_d_sql('q.qm', 'co.cv', 64)} AS d
        FROM qv q CROSS JOIN co)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, cell)
              <= {nprobe}),
    qsx AS (
      SELECT query_id, cell, s, qr[s * {sub} + 1 : s * {sub} + {sub}] AS qx
      FROM (
        SELECT p.query_id, p.cell,
               list_transform(generate_series(1, 64), j -> p.qm[j] - co.cv[j]) AS qr
        FROM qprobe p JOIN co USING (cell)),
      UNNEST(generate_series(0, {m - 1})) t(s)),
    qd AS (
      SELECT qsx.query_id, qsx.cell, qsx.s, cb.code,
             {_pq_d_sql('qsx.qx', 'cb.cv', sub)} AS d
      FROM qsx JOIN cb ON cb.s = qsx.s),
    adc AS (
      SELECT qd.query_id, c.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adist
      FROM codes c
      JOIN qd ON qd.cell = c.cell AND qd.s = c.s AND qd.code = c.code
      WHERE qd.query_id <> c.vec_id
      GROUP BY qd.query_id, c.vec_id),
    pq_topk AS (
      SELECT query_id, vec_id, adist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, vec_id) AS INT) AS rank
      FROM adc
      QUALIFY rank <= 10)"""


@query(
    "q311_ivf_pq_topk",
    oracle=f"""
    WITH {_ivf_pq_ctes()}
    SELECT query_id, vec_id, adist, rank FROM pq_topk
    """,
)
def q311_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return sim.ivf_pq_topk(emb, queries_df, k=10, nprobe=2).select(
        "query_id", "vec_id", "adist", F.col("rank").cast("int").alias("rank")
    )


# --------------------------------------------------------------------- #
# PQ recall eval (the q167/q249 pattern for the IVF-PQ path): per
# query, |ADC top-10 ∩ exact integer-L2 top-10| / 10 in exact ppm —
# the quality dial for (n_coarse, nprobe, m, pq_k). The exact baseline
# is the same micro-unit squared L2, so the whole card is one integer
# pipeline.
# --------------------------------------------------------------------- #
@query(
    "q312_pq_recall",
    oracle=f"""
    WITH {_ivf_pq_ctes()},
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, v.vec_id, {_pq_d_sql('q.qm', 'v.vm', 64)} AS d
        FROM qv q JOIN v ON v.vec_id <> q.query_id)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= 10)
    SELECT e.query_id,
           CAST(COALESCE(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                * 100000 AS BIGINT) AS recall_ppm
    FROM exact e
    LEFT JOIN pq_topk p ON p.query_id = e.query_id AND p.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q312_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    approx = sim.ivf_pq_topk(emb, queries_df, k=10, nprobe=2).select(
        "query_id", "vec_id"
    )
    vm = emb.selectExpr(
        "vec_id", sim._MICRO_SQL.format(c="embedding") + " AS __vm"
    )
    qm = vm.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("__vm").alias("__qm")
    )
    d = F.expr(sim._SQL2.format(a="__qm", b="__vm"))
    exact = (
        vm.join(F.broadcast(qm), F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", d.alias("__d"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("__d"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("__rn") <= 10)
        .select("query_id", "vec_id")
    )
    hit = approx.withColumn("__hit", F.lit(1))
    return (
        exact.join(hit, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.coalesce(F.sum("__hit"), F.lit(0)) * F.lit(100000))
            .cast("bigint")
            .alias("recall_ppm")
        )
    )


# --------------------------------------------------------------------- #
# IVF-PQ + exact re-rank recall eval (similarity.ivf_pq_topk rerank=C —
# the FAISS refine step): each query's ADC top-100 candidates are
# re-scored by exact integer L2 via one broadcast join back to the
# corpus vectors, then recall@10 of the re-ranked list vs the exact
# top-10. On near-isotropic embeddings ADC quantization noise swamps
# the tiny true-distance gaps, so pure-ADC recall (q312, ~22%) sits
# far below the probe ceiling (82% at nprobe=4); the bounded refine
# pass recovers most of the ceiling (~74% here) at the cost of
# |queries|·C exact distances — the standard quality/cost dial for a
# production ANN serving path.
# --------------------------------------------------------------------- #
@query(
    "q313_pq_rerank_recall",
    oracle=f"""
    WITH {_ivf_pq_ctes(nprobe=4)},
    cand AS (
      SELECT query_id, vec_id FROM adc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adist, vec_id) <= 100),
    rr AS (
      SELECT query_id, vec_id FROM (
        SELECT cand.query_id, cand.vec_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY cand.query_id
                                       ORDER BY {_pq_d_sql('q.qm', 'v.vm', 64)},
                                                cand.vec_id) AS INT) AS rank
        FROM cand JOIN qv q USING (query_id) JOIN v USING (vec_id))
      WHERE rank <= 10),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, v.vec_id, {_pq_d_sql('q.qm', 'v.vm', 64)} AS d
        FROM qv q JOIN v ON v.vec_id <> q.query_id)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, vec_id) <= 10)
    SELECT e.query_id,
           CAST(COALESCE(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                * 100000 AS BIGINT) AS recall_ppm
    FROM exact e
    LEFT JOIN rr p ON p.query_id = e.query_id AND p.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q313_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    approx = sim.ivf_pq_topk(
        emb, queries_df, k=10, nprobe=4, rerank=100
    ).select("query_id", "vec_id")
    vm = emb.selectExpr(
        "vec_id", sim._MICRO_SQL.format(c="embedding") + " AS __vm"
    )
    qm = vm.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("__vm").alias("__qm")
    )
    d = F.expr(sim._SQL2.format(a="__qm", b="__vm"))
    exact = (
        vm.join(F.broadcast(qm), F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", d.alias("__d"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("__d"), F.asc("vec_id"))
            ),
        )
        .filter(F.col("__rn") <= 10)
        .select("query_id", "vec_id")
    )
    hit = approx.withColumn("__hit", F.lit(1))
    return (
        exact.join(hit, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            (F.coalesce(F.sum("__hit"), F.lit(0)) * F.lit(100000))
            .cast("bigint")
            .alias("recall_ppm")
        )
    )
