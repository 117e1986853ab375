"""Processor / ProcessingChain unit tests, mirroring the reference's
operator-level strategy (tests/test_abstract.py:36-101: tiny literal
inputs, exact expected outputs, chain composition + info propagation)
with numpy as the semantic oracle for the DSP stages.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from dabstract_spark.dataset import Dataset
from dabstract_spark.processing import (
    FFT,
    Aggregation,
    ExpandDims,
    Filterbank,
    FIRFilter,
    Framing,
    Logarithm,
    Normalizer,
    ProcessingChain,
    Resample,
    Scaler,
    Windowing,
)
from dabstract_spark.processing.processors import firwin, mel_filterbank, window_values


def _pylist(x):
    """np array -> plain python floats (createDataFrame rejects np.float64)."""
    return [float(v) for v in x]


def _one_col(spark, values, dtype="array<double>"):
    return spark.createDataFrame([(v,) for v in values], f"x {dtype}")


def _apply(spark, proc_or_chain, values, dtype="array<double>", info=None):
    chain = (
        proc_or_chain
        if isinstance(proc_or_chain, ProcessingChain)
        else ProcessingChain().add(proc_or_chain)
    )
    df = _one_col(spark, values, dtype)
    out = chain.process_df(df, "x", info=info)
    return [r.x for r in out.collect()]


def test_scaler_roundtrip(spark):
    vals = [[1024.0, -2048.0, 0.0]]
    got = _apply(spark, Scaler(type="int16"), vals)
    np.testing.assert_allclose(got[0], np.array(vals[0]) / (2**15 - 1))
    # inverse recovers input
    chain = ProcessingChain().add(Scaler(type="int16"))
    df = _one_col(spark, vals)
    inv = df.withColumn("x", chain.inv_expr(chain.expr("x", {"dtype": "array<double>"}), {"dtype": "array<double>"}))
    np.testing.assert_allclose(inv.collect()[0].x, vals[0], rtol=1e-12)


def test_logarithm_base10_and_inverse(spark):
    vals = [[1.0, 10.0, 100.0]]
    got = _apply(spark, Logarithm(type="base10"), vals)
    np.testing.assert_allclose(got[0], 20 * np.log10(vals[0]))
    chain = ProcessingChain().add(Logarithm(type="base10"))
    info = {"dtype": "array<double>"}
    df = _one_col(spark, vals)
    rt = df.withColumn("x", chain.inv_expr(chain.expr("x", info), info))
    np.testing.assert_allclose(rt.collect()[0].x, vals[0], rtol=1e-12)


def test_windowing_matches_numpy(spark):
    x = np.arange(1.0, 9.0)
    got = _apply(spark, Windowing(window_func="hamming"), [_pylist(x)])
    np.testing.assert_allclose(got[0], x * window_values("hamming", 8, periodic=True), rtol=1e-12)


def test_expand_dims(spark):
    got0 = _apply(spark, ExpandDims(axis=0), [[1.0, 2.0]])
    assert got0[0] == [[1.0, 2.0]]
    got1 = _apply(spark, ExpandDims(axis=-1), [[1.0, 2.0]])
    assert got1[0] == [[1.0], [2.0]]


def test_aggregation_mean_std_kurtosis(spark):
    x = np.array([1.0, 2.0, 3.0, 4.0, 10.0])
    got = _apply(spark, Aggregation(methods=["mean", "std", "kurtosis"]), [_pylist(x)])
    mu, sd = x.mean(), x.std()
    kurt = ((x - mu) ** 4).mean() / ((x - mu) ** 2).mean() ** 2 - 3
    np.testing.assert_allclose(got[0], [mu, sd, kurt], rtol=1e-10)


def test_aggregation_2d_axis0(spark):
    m = np.array([[1.0, 2.0], [3.0, 4.0], [5.0, 9.0]])
    got = _apply(
        spark,
        Aggregation(methods=["mean", "std"], combine="concat"),
        [[_pylist(r) for r in m]],
        dtype="array<array<double>>",
    )
    expect = np.concatenate([m.mean(axis=0), m.std(axis=0)])
    np.testing.assert_allclose(got[0], expect, rtol=1e-10)


def test_normalizer_minmax_fit_transform_inverse(spark):
    vals = [[0.0, 5.0], [10.0, 2.5]]
    df = _one_col(spark, vals)
    proc = Normalizer(type="minmax", feature_range=(0.0, 1.0))
    chain = ProcessingChain().add(proc)
    chain.fit(df, "x")
    assert proc.fitted == {"min": [0.0], "max": [10.0]}
    got = [r.x for r in chain.process_df(df, "x").collect()]
    np.testing.assert_allclose(got, [[0.0, 0.5], [1.0, 0.25]])
    info = {"dtype": "array<double>"}
    rt = df.withColumn("x", chain.inv_expr(chain.expr("x", info), info))
    np.testing.assert_allclose([r.x for r in rt.collect()], vals, rtol=1e-12)


def test_normalizer_standard_global(spark):
    data = np.array([[1.0, 2.0], [3.0, 6.0]])
    df = _one_col(spark, [_pylist(r) for r in data])
    proc = Normalizer(type="standard")
    proc.fit(df, F.col("x"), {"dtype": "array<double>"})
    flat = data.ravel()
    np.testing.assert_allclose(proc.fitted["mean"], [flat.mean()], rtol=1e-12)
    np.testing.assert_allclose(proc.fitted["std"], [flat.std()], rtol=1e-12)


def test_normalizer_2d_per_feature(spark):
    rows = [[[1.0, 10.0], [3.0, 20.0]], [[5.0, 30.0], [7.0, 40.0]]]
    df = _one_col(spark, rows, dtype="array<array<double>>")
    proc = Normalizer(type="minmax")
    proc.fit(df, F.col("x"), {"dtype": "array<array<double>>"})
    assert proc.fitted == {"min": [1.0, 10.0], "max": [7.0, 40.0]}
    out = proc.expr(F.col("x"), {"dtype": "array<array<double>>"})[0]
    got = df.withColumn("x", out).collect()[0].x
    np.testing.assert_allclose(got[0], [0.0, 0.0])
    np.testing.assert_allclose(got[1], [1 / 3, 1 / 3])


def test_fft_magnitude_matches_numpy(spark):
    x = np.sin(np.arange(16) * 0.7) + 0.3
    got = _apply(spark, FFT(type="real", nfft="nextpow2"), [_pylist(x)])
    np.testing.assert_allclose(got[0], np.abs(np.fft.rfft(x, 16)), rtol=1e-10)


def test_fft_nextpow2_padding_and_dc_reset(spark):
    x = np.ones(12)  # nextpow2 -> 16
    got = _apply(spark, FFT(type="real", format="power", dc_reset=True), [_pylist(x)])
    expect = np.abs(np.fft.rfft(x, 16)) ** 2
    expect[0] = 0.0
    assert len(got[0]) == 9
    np.testing.assert_allclose(got[0], expect, rtol=1e-10)


def test_chain_fft_filterbank_log_info_propagation(spark):
    """The canonical audio chain (reference tests/test_abstract.py:36-101
    shape): FFT → Filterbank (nfft flows via chain info) → Logarithm."""
    rng = np.random.default_rng(7)
    x = rng.standard_normal(64)
    chain = (
        ProcessingChain()
        .add(FFT(type="real", format="power"))
        .add(Filterbank(n_bands=4, scale="mel", fs=16000))
        .add(Logarithm(type="base10"))
    )
    got = _apply(spark, chain, [_pylist(x)], info={"fs": 16000, "n_samples": 64})
    spec = np.abs(np.fft.rfft(x, 64)) ** 2
    fb = mel_filterbank(4, 64, 16000, scale="mel")
    expect = spec @ fb.T
    expect = np.where(expect == 0, np.finfo(float).eps, expect)
    expect = 20 * np.log10(expect)
    np.testing.assert_allclose(got[0], expect, rtol=1e-8)


def test_filterbank_nfft_mismatch_fails_at_build(spark):
    chain = (
        ProcessingChain()
        .add(FFT(type="real"))
        .add(Filterbank(n_bands=4, nfft=128, fs=8000))
    )
    df = _one_col(spark, [[1.0] * 64])
    with pytest.raises(ValueError, match="nfft mismatch"):
        chain.process_df(df, "x", info={"fs": 8000, "n_samples": 64})


def test_firwin_lowpass_properties():
    h = firwin(21, 1000.0, fs=8000.0, pass_zero=True)
    # unity DC gain, symmetric (linear phase)
    assert abs(h.sum() - 1.0) < 1e-12
    np.testing.assert_allclose(h, h[::-1], rtol=1e-12)
    # attenuates at Nyquist
    assert abs(np.sum(h * np.cos(np.pi * np.arange(-10, 11)))) < 1e-2


def test_fir_filter_is_causal_convolution(spark):
    x = np.sin(np.arange(32) * 0.3)
    proc = FIRFilter(type="lowpass", f=1000.0, taps=9, fs=8000.0)
    got = _apply(spark, proc, [_pylist(x)])
    h = proc.coefficients(8000.0)
    expect = np.convolve(x, h, mode="full")[:32]
    np.testing.assert_allclose(got[0], expect, rtol=1e-10)


def test_resample_halves_length(spark):
    x = np.sin(2 * np.pi * np.arange(32) / 32)
    got = _apply(spark, Resample(target_fs=4000, fs=8000), [_pylist(x)])
    assert len(got[0]) == 16
    # a pure low-frequency tone survives FFT resampling almost exactly
    expect = np.sin(2 * np.pi * np.arange(16) / 16)
    np.testing.assert_allclose(got[0], expect, atol=1e-10)


def test_framing_processor_matches_reference_shape(spark):
    x = np.arange(1.0, 11.0)
    proc = Framing(windowsize=4.0, stepsize=2.0, window_func="none", fs=1.0)
    got = _apply(spark, proc, [_pylist(x)])
    # frame_len 4, step 2, n 10 -> 4 frames
    assert [list(fr) for fr in got[0]] == [
        [1, 2, 3, 4], [3, 4, 5, 6], [5, 6, 7, 8], [7, 8, 9, 10]
    ]


def test_chain_save_load_roundtrip(spark, tmp_path):
    df = _one_col(spark, [[0.0, 4.0], [2.0, 8.0]])
    chain = ProcessingChain().add(Scaler(type="wav_2_01")).add(
        Normalizer(type="minmax")
    )
    chain.fit(df, "x")
    path = str(tmp_path / "chain")
    chain.save(path)
    assert ProcessingChain.exists(path)
    loaded = ProcessingChain.load(path)
    a = [r.x for r in chain.process_df(df, "x").collect()]
    b = [r.x for r in loaded.process_df(df, "x").collect()]
    np.testing.assert_allclose(a, b, rtol=1e-12)


def test_chain_with_external_callable_and_registry_name(spark):
    chain = ProcessingChain().add(lambda c: F.transform(c, lambda x: F.abs(x))).add(
        "Logarithm", {"type": "natural"}
    )
    got = _apply(spark, chain, [[-math.e, math.e]])
    np.testing.assert_allclose(got[0], [1.0, 1.0], rtol=1e-12)


def test_add_map_accepts_chain_and_name(spark):
    df = _one_col(spark, [[2.0, -4.0]]).withColumn("row_id", F.lit(0))
    ds = Dataset(df, name="t")
    out = ds.add_map("x", ProcessingChain().add(Scaler(type="wav_2_01")), new_key="y")
    assert out.full_df.select("y").collect()[0].y == [1.5, -1.5]
    out2 = ds.add_map("x", [{"name": "Scaler", "parameters": {"type": "wav_2_01"}}], new_key="z")
    assert out2.full_df.select("z").collect()[0].z == [1.5, -1.5]


def test_ivf_refine_improves_objective(spark):
    """One Lloyd iteration on the fixture must not worsen the summed
    best-centroid similarity (deterministic fixture -> stable check)."""
    from dabstract_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    c0 = sim.ivf_centroids(emb, n_centroids=4)
    c1 = sim.ivf_refine(emb, c0, iters=1)
    assert len(c1) == 4 and all(len(v) == 64 for _, v in c1)

    def objective(cents):
        sims = sim._centroid_rank_exprs("`embedding`", cents)
        best = F.array_max(F.array(*[F.expr(s) for _, s in sims]))
        return emb.select(F.sum(best)).first()[0]

    assert objective(c1) >= objective(c0) - 1e-9


def test_filterbank_native_matches_udf_fallback(spark, monkeypatch):
    """At the cap's exact boundary: with MAX_NATIVE_NNZ equal to the
    bank's nonzeros, sql() gives the sparse-unrolled JVM text; one
    below, it gives None and the chain takes the Arrow-UDF matmul. The
    two must agree (up to float summation order) on ordinary rows (the
    all-zero row hits the eps floor), and both must raise on length-1
    and empty rows, which are shorter than the bank."""
    from pyspark.errors import PySparkException

    fb = Filterbank(n_bands=4, scale="mel", nfft=64, fs=8000)
    info = {"fs": 8000, "nfft": 64}
    nnz = int(np.count_nonzero(fb._matrix(info)))
    vals = [_pylist(np.random.default_rng(3).standard_normal(33)), [0.0] * 33]
    got = {}
    for cap, native in ((nnz, True), (nnz - 1, False)):
        monkeypatch.setattr(Filterbank, "MAX_NATIVE_NNZ", cap)
        assert (fb.sql("`x`", info) is not None) == native, cap
        got[native] = _apply(spark, fb, vals, info=info)
        for short in ([1.5], []):
            with pytest.raises(PySparkException):
                _apply(spark, fb, [short], info=info)
    for a, b in zip(got[True], got[False]):
        np.testing.assert_allclose(a, b, rtol=1e-10)
    assert got[True][1] == [float(np.finfo(float).eps)] * 4


def test_fir_empty_and_short_arrays(spark, monkeypatch):
    """At the cap's exact boundary: with MAX_NATIVE_TAPS equal to the
    filter's taps, sql() gives the unrolled native text; one below, it
    gives None and the chain takes the Arrow fallback. Both must match
    np.convolve on ordinary, short and length-1 rows, and map an empty
    row to an empty row (the native sequence(1, 0) descending trap must
    not emit spurious elements; np.convolve rejects an empty input)."""
    fir = FIRFilter(type="lowpass", f=1000.0, taps=9, fs=8000.0)
    h = fir.coefficients(8000.0)
    rows = [_pylist(np.random.default_rng(7).standard_normal(20)), [1.0, 2.0], [1.5], []]
    for cap, native in ((fir.taps, True), (fir.taps - 1, False)):
        monkeypatch.setattr(FIRFilter, "MAX_NATIVE_TAPS", cap)
        assert (fir.sql("`x`", {"fs": 8000.0}) is not None) == native, cap
        got = _apply(spark, fir, rows, info={"fs": 8000.0})
        assert got[3] == []
        for row, out in zip(rows[:3], got):
            np.testing.assert_allclose(out, np.convolve(row, h)[: len(row)], rtol=1e-12)


def test_aggregation_2d_kurtosis_matches_numpy(spark):
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((12, 5))
    agg = Aggregation(methods=["mean", "std", "kurtosis"], axis=0)
    got = _apply(
        spark,
        agg,
        [[list(map(float, row)) for row in mat]],
        dtype="array<array<double>>",
        info={"dtype": "array<array<double>>"},
    )[0]
    mu = mat.mean(axis=0)
    m2 = ((mat - mu) ** 2).mean(axis=0)
    m4 = ((mat - mu) ** 4).mean(axis=0)
    np.testing.assert_allclose(got[0], mu, rtol=1e-12)
    np.testing.assert_allclose(got[1], np.sqrt(m2), rtol=1e-12)
    np.testing.assert_allclose(got[2], m4 / m2**2 - 3.0, rtol=1e-12)


def test_aggregation_2d_axis_minus1_per_row(spark):
    rng = np.random.default_rng(12)
    mat = rng.standard_normal((4, 6))
    agg = Aggregation(methods=["mean", "std"], axis=-1)
    got = _apply(
        spark,
        agg,
        [[list(map(float, row)) for row in mat]],
        dtype="array<array<double>>",
        info={"dtype": "array<array<double>>"},
    )[0]
    assert len(got) == 4
    np.testing.assert_allclose(
        got, np.stack([mat.mean(axis=1), mat.std(axis=1)], axis=1), rtol=1e-12
    )


# --------------------------------------------------------------------- #
# Native chains against numpy on edge inputs: ragged lengths, all zeros
# (Filterbank's eps-floor leg, log of 0 -> NULL), a constant array
# (kurtosis NULL leg), negatives (log domain -> NULL), and an empty
# array (FIR / Framing boundary). Aggregation and Filterbank are defined
# on the fixed 64-sample width only (ANSI raises on 0/0 and on an
# out-of-range element_at), so they get the non-empty 64-wide rows.
# --------------------------------------------------------------------- #
_EDGE = {
    "ramp": [float(i) / 7.0 - 0.4 for i in range(64)],
    "zeros": [0.0] * 64,
    "const": [1.5] * 64,
    "negatives": [-1.0, 2.0, -3.0, 4.0] * 16,
    "ragged": [math.sin(0.3 * i) for i in range(37)],
    "empty": [],
}
_WIDE = ("ramp", "zeros", "const", "negatives")
_FS = 8000.0


def _elementwise_ref(f):
    return lambda x: [f(v) for v in x]


def _log_ref(f):
    # Spark's log10/ln are NULL on non-positive input
    return _elementwise_ref(lambda v: f(v) if v > 0 else None)


def _window_ref(kind, periodic=True):
    return lambda x: list(np.asarray(x) * window_values(kind, len(x), periodic))


def _moments(x):
    x = np.asarray(x)
    mu = x.mean()
    m2 = ((x - mu) ** 2).mean()
    m4 = ((x - mu) ** 4).mean()
    return mu, math.sqrt(m2), (None if m2 == 0 else m4 / m2**2 - 3.0)


def _frames_ref(x, flen=16, step=8):
    n = (len(x) - flen) // step + 1
    w = window_values("hamming", flen, periodic=True)
    return [list(np.asarray(x[f * step : f * step + flen]) * w) for f in range(max(n, 0))]


def _fbank_ref(x):
    fb = mel_filterbank(8, 126, _FS, scale="mel")
    out = np.asarray(x) @ fb.T
    return list(np.where(out == 0, np.finfo(float).eps, out))


def _fir_ref(ftype, f, taps):
    h = FIRFilter(type=ftype, f=f, taps=taps, fs=_FS).coefficients(_FS)
    return lambda x: list(np.convolve(x, h)[: len(x)]) if x else []


_FRAMING = ("Framing", {"windowsize": 0.002, "stepsize": 0.001, "fs": _FS})
_NATIVE_CHAINS = {
    "scaler_uint16": ([("Scaler", {"type": "uint16"})], _elementwise_ref(lambda v: v / 2**16)),
    "scaler_wav": ([("Scaler", {"type": "wav_2_01"})], _elementwise_ref(lambda v: (v + 1) / 2)),
    "log_base10": ([("Logarithm", {"type": "base10"})], _log_ref(lambda v: 20 * math.log10(v))),
    "log_natural": ([("Logarithm", {"type": "natural"})], _log_ref(math.log)),
    "window_hamming": ([("Windowing", {"window_func": "hamming"})], _window_ref("hamming")),
    "window_hann_sym": (
        [("Windowing", {"window_func": "hann", "symmetry": False})],
        _window_ref("hann", periodic=False),
    ),
    "window_blackman": ([("Windowing", {"window_func": "blackman"})], _window_ref("blackman")),
    "expand_rows": ([("ExpandDims", {"axis": 0})], lambda x: [x]),
    "expand_cols": ([("ExpandDims", {"axis": -1})], lambda x: [[v] for v in x]),
    "agg_1d": (
        [("Aggregation", {"methods": ["mean", "std", "kurtosis"]})],
        lambda x: list(_moments(x)),
    ),
    "framing": ([_FRAMING], _frames_ref),
    "framing_agg_axis0": (
        [_FRAMING, ("Aggregation", {"methods": ["mean", "std"], "axis": 0, "combine": "concat"})],
        lambda x: list(
            np.concatenate([np.mean(_frames_ref(x), axis=0), np.std(_frames_ref(x), axis=0)])
        ),
    ),
    "framing_agg_rows": (
        [_FRAMING, ("Aggregation", {"methods": ["mean", "std", "kurtosis"], "axis": -1})],
        lambda x: [list(_moments(fr)) for fr in _frames_ref(x)],
    ),
    "filterbank": (
        [("Filterbank", {"n_bands": 8, "scale": "mel", "nfft": 126, "fs": _FS})],
        _fbank_ref,
    ),
    "fir_lowpass": (
        [("FIRFilter", {"type": "lowpass", "f": 1000.0, "taps": 15, "fs": _FS})],
        _fir_ref("lowpass", 1000.0, 15),
    ),
    "fir_bandpass": (
        [("FIRFilter", {"type": "bandpass", "f": [500.0, 1500.0], "taps": 21, "fs": _FS})],
        _fir_ref("bandpass", [500.0, 1500.0], 21),
    ),
    "mixed_scalar_chain": (
        [
            ("Scaler", {"type": "wav_2_01"}),
            ("Logarithm", {"type": "base10"}),
            ("ExpandDims", {"axis": 0}),
        ],
        lambda x: [_log_ref(lambda v: 20 * math.log10(v))([(v + 1) / 2 for v in x])],
    ),
}
_WIDTH_BOUND = ("agg_1d", "framing_agg_axis0", "framing_agg_rows", "filterbank")


def _chain(stages):
    ch = ProcessingChain()
    for pname, params in stages:
        ch.add(pname, params)
    return ch


def _assert_close(got, want, path="v"):
    if want is None or got is None:
        assert got is None and want is None, f"{path}: got {got!r}, want {want!r}"
    elif isinstance(want, (list, tuple, np.ndarray)):
        assert len(got) == len(want), f"{path}: length {len(got)} != {len(want)}"
        for i, (g, w) in enumerate(zip(got, want)):
            _assert_close(g, w, f"{path}[{i}]")
    else:
        assert math.isclose(got, float(want), rel_tol=1e-9, abs_tol=1e-12), (
            f"{path}: got {got!r}, want {want!r}"
        )


@pytest.mark.parametrize("name", sorted(_NATIVE_CHAINS))
def test_sql_twin_matches_column_path(spark, name):
    """Each native chain, composed over the column NAME (one parse of its
    SQL text) and over a Column operand (the same text bound once by
    core.bind_sql), matches numpy on the edge inputs, and the two paths
    agree bit for bit."""
    stages, ref = _NATIVE_CHAINS[name]
    keys = _WIDE if name in _WIDTH_BOUND else list(_EDGE)
    df = _one_col(spark, [_EDGE[k] for k in keys])
    info = {"dtype": "array<double>"}
    ch = _chain(stages)
    by_name = [r.v for r in df.select(ch.expr("x", dict(info)).alias("v")).collect()]
    by_col = [r.v for r in df.select(ch.expr(F.col("x"), dict(info)).alias("v")).collect()]
    assert [repr(v) for v in by_name] == [repr(v) for v in by_col]
    for k, g in zip(keys, by_name):
        _assert_close(g, ref(_EDGE[k]), f"{name}/{k}")


def _py4j_calls(fn):
    """py4j commands this thread sends while ``fn`` runs (the plan-build
    chatter a Column-by-Column tree pays per operation). py4j's finalizer
    thread sends object-release commands at its own pace; they are not
    counted."""
    import threading

    import py4j.clientserver as cs

    sent = [0]
    me = threading.get_ident()
    orig = cs.ClientServerConnection.send_command

    def counted(self, command):
        sent[0] += threading.get_ident() == me
        return orig(self, command)

    cs.ClientServerConnection.send_command = counted
    try:
        fn()
    finally:
        cs.ClientServerConnection.send_command = orig
    return sent[0]


# Each pyspark builtin call resolves its JVM function afresh: about three
# py4j round trips. A native stage built Column-wise pays that per
# operation (Filterbank: thousands); one parse (F.expr) costs 3, and one
# bind_sql over a Column operand 21 (F.array 8, F.expr 3, F.call_function
# 9, the item access 1). The bounds leave room for those and nothing else.
_ONE_PARSE_CALLS = 4
_ONE_BIND_CALLS = 24


def test_sql_twin_path_actually_engages(spark):
    """Every native chain over a column name composes as text and parses
    once; over a Column it adds one bind. A stage built Column by Column
    (a silent fallback would reintroduce the chatter) fails the bound."""
    info = {"dtype": "array<double>"}
    for name, (stages, _) in sorted(_NATIVE_CHAINS.items()):
        ch = _chain(stages)
        ch.expr(F.col("x"), dict(info))  # warm py4j member resolution
        assert _py4j_calls(lambda: ch.expr("x", dict(info))) <= _ONE_PARSE_CALLS, name
        assert (
            _py4j_calls(lambda: ch.expr(F.col("x"), dict(info)))
            <= _ONE_PARSE_CALLS + _ONE_BIND_CALLS
        ), name


def test_sql_stages_after_python_stage_bind_once(spark):
    """FFT (a pandas UDF) → Filterbank → Logarithm: the two SQL stages
    compose as text over the bound UDF output — one Arrow stage, and a
    build cost of the FFT alone plus one bind."""
    info = {"fs": 16000, "n_samples": 64, "dtype": "array<double>"}
    fft = ProcessingChain().add(FFT(type="real", format="power"))
    full = (
        ProcessingChain()
        .add(FFT(type="real", format="power"))
        .add(Filterbank(n_bands=4, scale="mel", fs=16000))
        .add(Logarithm(type="base10"))
    )
    full.expr("x", dict(info))
    fft_only = _py4j_calls(lambda: fft.expr("x", dict(info)))
    assert _py4j_calls(lambda: full.expr("x", dict(info))) <= fft_only + _ONE_BIND_CALLS
    df = _one_col(spark, [[float(i % 5) for i in range(64)]])
    out = df.select(full.expr("x", dict(info)).alias("v"))
    assert out._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython") == 1


def test_inverse_of_column_input_roundtrips(spark):
    """inv_expr over a Column operand (the forward chain's own output):
    Normalizer, Scaler and Logarithm inverses compose as one bound SQL
    run and recover the input."""
    vals = [[1.0, 2.5, 4.0], [3.0, 0.5, 2.0]]
    df = _one_col(spark, vals)
    chain = (
        ProcessingChain()
        .add(Normalizer(type="minmax"))
        .add(Scaler(type="wav_2_01"))
        .add(Logarithm(type="natural"))
    )
    chain.fit(df, "x")
    info = {"dtype": "array<double>"}
    fwd = chain.expr(F.col("x"), info)
    got = [r.v for r in df.select(chain.inv_expr(fwd, info).alias("v")).collect()]
    np.testing.assert_allclose(got, vals, rtol=1e-12)
    assert _py4j_calls(lambda: chain.inv_expr(fwd, info)) <= _ONE_BIND_CALLS
