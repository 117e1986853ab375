"""Processor / ProcessingChain query catalog entries (SURVEY §2.8–§2.9)
with DuckDB oracles.

The embeddings fixture (array<float>, 64-dim) serves as the per-example
"signal" column. Oracles mirror the processor math term for term; where
libm rounding can differ in the last ulp (cos/log10) or summation order
differs (FFT, convolution), outputs are rounded so both engines land on
the same decimals. The FFT oracle is a literal O(n²) DFT — numerically
within ~1e-13 of numpy's rfft, compared at 4 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from dabstract_spark.processing import (
    FIRFilter,
    Framing,
    ProcessingChain,
)
from dabstract_spark.queries import _t, query

_DIM = 64


# --------------------------------------------------------------------- #
# Scaler (§2.8) — pure elementwise expression, bit-exact across engines
# --------------------------------------------------------------------- #
@query(
    "q60_scaler",
    # scalar (vec_id, pos, scaled) rows — the driver's canonicalizer
    # sorts with pandas and cannot hash array cells, so every processor
    # query posexplodes its array output (the q65 pattern)
    oracle=f"""
    SELECT vec_id, CAST(j - 1 AS INT) AS pos,
           embedding[j]::DOUBLE / 32767.0 AS scaled
    FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS t(j)
    """,
)
def q60_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    ds_chain = ProcessingChain().add("Scaler", {"type": "int16"})
    out = ds_chain.process_df(emb, "embedding", new_key="scaled")
    return out.select("vec_id", F.posexplode("scaled").alias("pos", "scaled"))


# --------------------------------------------------------------------- #
# Logarithm after an external |x| stage (§2.8 + §2.9 ExternalProcessor)
# --------------------------------------------------------------------- #
@query(
    "q61_logarithm_chain",
    oracle=f"""
    SELECT vec_id, CAST(j - 1 AS INT) AS pos,
           round(20.0 * log10(abs(embedding[j]::DOUBLE) + 1.0), 6) + 0.0 AS db
    FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS t(j)
    """,
)
def q61_logarithm_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = (
        ProcessingChain()
        .add(lambda c: F.transform(c, lambda x: F.abs(x.cast("double")) + F.lit(1.0)))
        .add("Logarithm", {"type": "base10"})
    )
    out = chain.process_df(emb, "embedding", new_key="db")
    return out.select("vec_id", F.posexplode("db").alias("pos", "db")).select(
        "vec_id", "pos", (F.round("db", 6) + F.lit(0.0)).alias("db")
    )


# --------------------------------------------------------------------- #
# Aggregation: per-row mean/std/kurtosis (§2.4/§2.8)
# --------------------------------------------------------------------- #
@query(
    "q62_aggregation",
    oracle=f"""
    WITH m AS (
      SELECT vec_id, embedding,
             list_sum(list_transform(embedding, x -> x::DOUBLE)) / {_DIM} AS mu
      FROM embeddings),
    mo AS (
      SELECT vec_id, mu,
             list_sum(list_transform(embedding, x -> (x::DOUBLE - mu) * (x::DOUBLE - mu))) / {_DIM} AS m2,
             list_sum(list_transform(embedding, x -> pow(x::DOUBLE - mu, 4))) / {_DIM} AS m4
      FROM m)
    SELECT vec_id, ROUND(mu, 6) + 0.0 AS mean, ROUND(sqrt(m2), 6) + 0.0 AS std,
           -- kurtosis of a constant array (m2 = 0) is NULL in both
           -- engines (the engine's ANSI-safe convention)
           CASE WHEN m2 = 0 THEN NULL
                ELSE ROUND(m4 / (m2 * m2) - 3.0, 6) + 0.0 END AS kurtosis
    FROM mo
    """,
)
def q62_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add(
        "Aggregation", {"methods": ["mean", "std", "kurtosis"]}
    )
    out = chain.process_df(emb, "embedding", new_key="agg")
    return out.select(
        "vec_id",
        (F.round(F.element_at("agg", 1), 6) + F.lit(0.0)).alias("mean"),
        (F.round(F.element_at("agg", 2), 6) + F.lit(0.0)).alias("std"),
        (F.round(F.element_at("agg", 3), 6) + F.lit(0.0)).alias("kurtosis"),
    )


# --------------------------------------------------------------------- #
# Normalizer.fit → transform (§2.4/§2.8): a fitted-state aggregation —
# the whole-dataset min/max folds into the transform as literals
# --------------------------------------------------------------------- #
@query(
    "q63_normalizer_minmax",
    oracle=f"""
    WITH mm AS (
      SELECT MIN(list_min(embedding))::DOUBLE AS mn,
             MAX(list_max(embedding))::DOUBLE AS mx
      FROM embeddings)
    SELECT vec_id, CAST(j - 1 AS INT) AS pos,
           round((embedding[j]::DOUBLE - mn) / (mx - mn), 6) + 0.0 AS normed
    FROM embeddings, mm, UNNEST(generate_series(1, {_DIM})) AS t(j)
    """,
)
def q63_normalizer_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add("Normalizer", {"type": "minmax"})
    chain.fit(emb, "embedding")
    out = chain.process_df(emb, "embedding", new_key="normed")
    return out.select("vec_id", F.posexplode("normed").alias("pos", "normed")).select(
        "vec_id", "pos", (F.round("normed", 6) + F.lit(0.0)).alias("normed")
    )


# --------------------------------------------------------------------- #
# Windowing (§2.5/§2.8): periodic hamming, dynamic length
# --------------------------------------------------------------------- #
@query(
    "q64_windowing",
    oracle=f"""
    SELECT vec_id, CAST(j - 1 AS INT) AS pos,
           round(embedding[j]::DOUBLE
                 * (0.54 - 0.46 * cos(2 * pi() * (j - 1) / {_DIM})), 6) + 0.0 AS windowed
    FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS t(j)
    """,
)
def q64_windowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add("Windowing", {"window_func": "hamming"})
    out = chain.process_df(emb, "embedding", new_key="windowed")
    return out.select("vec_id", F.posexplode("windowed").alias("pos", "windowed")).select(
        "vec_id", "pos", (F.round("windowed", 6) + F.lit(0.0)).alias("windowed")
    )


# --------------------------------------------------------------------- #
# FFT (§2.8): numpy rfft (Arrow pandas UDF) vs a literal DFT in SQL.
# |rfft - naive DFT| ~ 1e-13 relative → compared at 4 decimals.
# --------------------------------------------------------------------- #
def _dft_mag_sql(dim: int) -> str:
    re = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"j -> embedding[j]::DOUBLE * cos(2 * pi() * k * (j - 1) / {dim})))"
    )
    im = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"j -> embedding[j]::DOUBLE * sin(2 * pi() * k * (j - 1) / {dim})))"
    )
    return f"round(sqrt(({re}) * ({re}) + ({im}) * ({im})), 4)"


@query(
    "q65_fft_magnitude",
    oracle=f"""
    SELECT vec_id, CAST(k AS INT) AS bin, {_dft_mag_sql(_DIM)} + 0.0 AS mag
    FROM embeddings, UNNEST(generate_series(0, {_DIM // 2})) AS t(k)
    """,
)
def q65_fft_magnitude(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add("FFT", {"type": "real", "nfft": "original"})
    out = chain.process_df(emb, "embedding", new_key="spec")
    return out.select(
        "vec_id", F.posexplode("spec").alias("bin", "mag")
    ).select("vec_id", "bin", (F.round("mag", 4) + F.lit(0.0)).alias("mag"))


# --------------------------------------------------------------------- #
# FIRFilter (§2.8): windowed-sinc design at plan-build → literal taps in
# the oracle; causal convolution either side, 6-decimal compare.
# --------------------------------------------------------------------- #
_FIR = FIRFilter(type="lowpass", f=1000.0, taps=9, fs=8000.0)
_TAPS = [repr(float(v)) for v in _FIR.coefficients(8000.0)]


@query(
    "q66_fir_filter",
    # the trailing "+ 0.0" normalizes IEEE -0.0 to +0.0 (near-zero taps
    # make y[0] a tiny signed value whose repr differs across engines)
    oracle=f"""
    SELECT vec_id, CAST(n - 1 AS INT) AS pos,
           round(list_sum(list_transform(generate_series(1, {len(_TAPS)}),
                  k -> CASE WHEN n - k + 1 >= 1
                            THEN ([{", ".join(_TAPS)}])[k] * embedding[n - k + 1]::DOUBLE
                            ELSE 0.0 END)), 6) + 0.0 AS filtered
    FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS t(n)
    """,
)
def q66_fir_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add(_FIR)
    out = chain.process_df(emb, "embedding", new_key="filtered")
    return out.select("vec_id", F.posexplode("filtered").alias("pos", "filtered")).select(
        "vec_id", "pos", (F.round("filtered", 6) + F.lit(0.0)).alias("filtered")
    )


def _fbank_sql() -> str:
    """Per-band SQL mirroring Filterbank's unrolled JVM path exactly:
    same nonzero coefficients (repr round-trips the double), same
    ascending-bin left-associated additions, same eps floor."""
    from dabstract_spark.processing.processors import mel_filterbank

    fb = mel_filterbank(8, 126, 8000.0, 0.0, None, "mel", None).T  # (64, 8)
    eps = repr(float(__import__("numpy").finfo(float).eps))
    bands = []
    for b in range(fb.shape[1]):
        terms = [
            f"({float(fb[j, b])!r}) * (embedding[{j + 1}]::DOUBLE)"
            for j in range(fb.shape[0])
            if fb[j, b] != 0.0
        ]
        s = " + ".join(["0.0"] + terms)
        bands.append(f"round(CASE WHEN ({s}) = 0.0 THEN {eps} ELSE ({s}) END, 6) + 0.0")
    return "[" + ", ".join(bands) + "]"


@query(
    "q91_filterbank",
    # 8-band mel filterbank over the embedding "spectrum" (64 bins ->
    # nfft 126): the sparse-unrolled JVM matmul vs the same literal
    # weighted sums in SQL
    oracle=f"""
    SELECT vec_id, CAST(b - 1 AS INT) AS band,
           ({_fbank_sql()})[b] AS fbank
    FROM embeddings, UNNEST(generate_series(1, 8)) AS t(b)
    """,
)
def q91_filterbank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.processing import Filterbank

    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add(Filterbank(n_bands=8, scale="mel", nfft=126, fs=8000.0))
    out = chain.process_df(emb, "embedding", new_key="fbank")
    return out.select("vec_id", F.posexplode("fbank").alias("band", "fbank")).select(
        "vec_id", "band", (F.round("fbank", 6) + F.lit(0.0)).alias("fbank")
    )


@query(
    "q94_expand_dims",
    # ExpandDims both axes as pure reshapes: axis=0 wraps the whole array
    # (1×n), axis=-1 wraps each element (n×1)
    # scalarized: each expanded matrix emits (axis, i, j, val) coordinate
    # rows — axis=0 is the 1×n wrap, axis=-1 the n×1 wrap
    oracle=f"""
    SELECT vec_id, 0 AS axis, 0 AS i, CAST(j - 1 AS INT) AS j,
           embedding[j]::DOUBLE AS val
    FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS t(j)
    UNION ALL
    SELECT vec_id, -1 AS axis, CAST(j - 1 AS INT) AS i, 0 AS j,
           embedding[j]::DOUBLE AS val
    FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS t(j)
    """,
)
def q94_expand_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dabstract_spark.processing import ExpandDims

    emb = _t(spark, sf_dir, "embeddings")
    row_chain = ProcessingChain().add(ExpandDims(axis=0))
    col_chain = ProcessingChain().add(ExpandDims(axis=-1))
    out = row_chain.process_df(emb, "embedding", new_key="row_vec")
    out = col_chain.process_df(out, "embedding", new_key="col_vec")

    def coords(col: str, axis: int) -> DataFrame:
        return (
            out.select("vec_id", F.posexplode(col).alias("i", "inner"))
            .select("vec_id", "i", F.posexplode("inner").alias("j", "val"))
            .select(
                "vec_id",
                F.lit(axis).alias("axis"),
                "i",
                "j",
                F.col("val").cast("double").alias("val"),
            )
        )

    return coords("row_vec", 0).unionByName(coords("col_vec", -1))


# --------------------------------------------------------------------- #
# Framing processor (§2.5): seconds-sized overlapping frames + window,
# per-row nested array (the non-cardinality-changing form)
# --------------------------------------------------------------------- #
@query(
    "q67_framing_chain",
    oracle=f"""
    SELECT vec_id, CAST(f AS INT) AS frame, CAST(k - 1 AS INT) AS pos,
           round(embedding[f * 4 + k]::DOUBLE
                 * (0.54 - 0.46 * cos(2 * pi() * (k - 1) / 8)), 6) + 0.0 AS v
    FROM embeddings,
         UNNEST(generate_series(0, {(_DIM - 8) // 4})) AS t(f),
         UNNEST(generate_series(1, 8)) AS t2(k)
    """,
)
def q67_framing_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add(
        Framing(windowsize=8.0, stepsize=4.0, window_func="hamming", fs=1.0)
    )
    out = chain.process_df(emb, "embedding", new_key="frames")
    return (
        out.select("vec_id", F.posexplode("frames").alias("frame", "fr"))
        .select("vec_id", "frame", F.posexplode("fr").alias("pos", "v"))
        .select("vec_id", "frame", "pos", (F.round("v", 6) + F.lit(0.0)).alias("v"))
    )


# --------------------------------------------------------------------- #
# Chain inverse (§2.9 inv_process): wav_2_01 roundtrips bit-exactly
# (multiply/divide by 2 and ±1 are exact in IEEE)
# --------------------------------------------------------------------- #
@query(
    "q68_chain_inverse",
    oracle=f"""
    SELECT vec_id, CAST(j - 1 AS INT) AS pos,
           round(embedding[j]::DOUBLE, 6) + 0.0 AS roundtrip
    FROM embeddings, UNNEST(generate_series(1, {_DIM})) AS t(j)
    """,
)
def q68_chain_inverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    chain = ProcessingChain().add("Scaler", {"type": "wav_2_01"})
    info = {"dtype": "array<double>"}
    fwd = chain.expr(F.col("embedding").cast("array<double>"), info)
    rt = chain.inv_expr(fwd, info)
    return emb.select("vec_id", F.posexplode(rt).alias("pos", "roundtrip")).select(
        "vec_id", "pos", (F.round("roundtrip", 6) + F.lit(0.0)).alias("roundtrip")
    )


# --------------------------------------------------------------------- #
# ProcessingChain save/load roundtrip (§2.1, reference
# processing_chain.py save/load): a FITTED chain serialized to JSON and
# reloaded must produce the exact same result as the original — the
# reloaded chain carries the fitted state as literals.
# --------------------------------------------------------------------- #
@query(
    "q104_chain_save_load",
    oracle=f"""
    WITH mm AS (
      SELECT MIN(list_min(embedding))::DOUBLE AS mn,
             MAX(list_max(embedding))::DOUBLE AS mx
      FROM embeddings)
    SELECT vec_id, CAST(j - 1 AS INT) AS pos,
           round(20.0 * log10(((embedding[j]::DOUBLE - mn) / (mx - mn)) + 1.0), 6) + 0.0 AS out
    FROM embeddings, mm, UNNEST(generate_series(1, {_DIM})) AS t(j)
    """,
)
def q104_chain_save_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    emb = _t(spark, sf_dir, "embeddings")
    fitted = ProcessingChain().add("Normalizer", {"type": "minmax"})
    fitted.fit(emb, "embedding")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "chain_v1")
        fitted.save(path)
        chain = ProcessingChain.load(path)
    # extend the RELOADED chain: +1 then dB — proves the reloaded object
    # is a full chain, not a frozen expression
    chain = chain.add(lambda c: F.transform(c, lambda x: x + F.lit(1.0))).add(
        "Logarithm", {"type": "base10"}
    )
    out = chain.process_df(emb, "embedding", new_key="out")
    return out.select("vec_id", F.posexplode("out").alias("pos", "out")).select(
        "vec_id", "pos", (F.round("out", 6) + F.lit(0.0)).alias("out")
    )
