"""The scalar/array processor library (reference: dabstract
``dataprocessor/processors/processors.py``).

Each processor defines what it computes exactly once, in one of two
forms::

    sql(col_sql, info) -> (sql, info_updates) | None   # native stage
    expr(col, info) -> (Column, info_updates)          # Python stage
    inv_sql(col_sql, info) -> sql | None               # optional inverse
    fit(df, col, info) -> None                         # optional estimator

Native stages (Dummy, Scaler, Normalizer, Logarithm, Windowing,
ExpandDims, Aggregation, Framing, and Filterbank / FIRFilter up to their
size caps) are SQL text over the operand's text; the chain
(``chain.py``) concatenates them and parses the whole run ONCE with
``F.expr``. Python stages (FFT, Resample, ExternalProcessor, and the
Arrow-UDF forms of Filterbank past ``MAX_NATIVE_NNZ`` and FIRFilter past
``MAX_NATIVE_TAPS``) build a Column: ``sql()`` returns None for them and
the chain calls ``expr()``. One helper joins the two: SQL stages after a
Python stage (or over a Column input) are bound to that Column once by
``core.bind_sql``. ``Processor.expr`` of a purely native stage is the
same bind over its own SQL, so a direct caller gets the chain's tree;
Filterbank's and FIRFilter's ``expr`` is their Arrow form.

SQL text rules: literals go through ``core.sql_double`` (repr
round-trips exactly and Spark parses D-suffixed literals with
Double.parseDouble, so a literal is bit-identical to ``F.lit``); an
operand referenced more than once is bound once (``_bind_operand``)
instead of copied; lambda variables are ``__p*`` names.

``info`` is the static metadata dict (``fs``, ``time_step``, ``nfft``,
``dtype`` — the reference's per-example info side-channel, resolved at
chain-compile time; SURVEY §7 "info propagation"). ``dtype`` is the Spark
simpleString of the operand so elementwise processors dispatch between
scalar and array form; a stage that changes it returns the new
``dtype`` in its info updates.

Numerics note: the container has numpy but not scipy/librosa, so window
functions, FIR design (windowed sinc) and FFT resampling are implemented
from their public textbook definitions in numpy; divergences from scipy
(e.g. firwin's scaling convention) are documented inline.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

from dabstract_spark.core import BOUND, bind_sql, sql_double


def _elementwise(col_sql: str, f, info: dict) -> str:
    """Apply ``f`` (operand SQL -> scalar expression SQL) over a scalar or
    (possibly nested) array operand, dispatching on the compile-time
    dtype."""
    dt = str(info.get("dtype", ""))
    if dt.startswith("array<array"):
        return f"transform({col_sql}, __pr -> transform(__pr, __px -> {f('__px')}))"
    if dt.startswith("array"):
        return f"transform({col_sql}, __px -> {f('__px')})"
    return f(f"({col_sql})")


def _bind_operand(col_sql: str, body_fn) -> str:
    """Multi-reference guard: a stage whose SQL references its operand k
    times would copy the accumulated prefix k times — after an
    unrolled-literal stage (Filterbank ~KBs) the one-parse string would
    grow multiplicatively per stage. Non-trivial operands are therefore
    bound ONCE as a lambda variable (the core.bind_once
    element_at/transform/array spelling — value-identical, evaluated
    once per row). Trivial operands (a quoted name or short expression)
    are spliced directly."""
    if len(col_sql) <= 64:
        return body_fn(f"({col_sql})")
    return f"element_at(transform(array({col_sql}), __pc -> {body_fn('__pc')}), 1)"


class Processor:
    """Base class (reference processing_chain.py:14-24): a native stage
    overrides ``sql``, a Python stage overrides ``expr``; either may add
    an inverse in the same form (``inv_sql`` / ``inv_expr``) and a
    ``fit``."""

    #: JSON-able constructor parameters (for chain save/load)
    def __init__(self, **params):
        self.params = params

    def sql(self, col_sql: str, info: dict) -> tuple[str, dict] | None:
        """This stage as SQL text over the operand text ``col_sql``.
        None marks a Python stage: the chain calls ``expr`` instead."""
        return None

    def expr(self, col: Column, info: dict) -> tuple[Column, dict]:
        """This stage as a Column over ``col``. Python stages override
        it; a native stage's is its ``sql`` bound over ``col``."""
        got = self.sql(BOUND, info)
        if got is None:
            raise NotImplementedError(f"{type(self).__name__} defines neither sql() nor expr()")
        return bind_sql(col, got[0]), got[1]

    def inv_sql(self, col_sql: str, info: dict) -> str | None:
        """The inverse as SQL text; None = no SQL inverse (see inv_expr)."""
        return None

    def inv_expr(self, col: Column, info: dict) -> Column:
        got = self.inv_sql(BOUND, info)
        if got is None:
            raise NotImplementedError(
                f"{type(self).__name__} has no inverse (reference chains assert the same)"
            )
        return bind_sql(col, got)

    # fitted state (JSON-able) — None for stateless processors
    fitted: dict | None = None

    def to_spec(self) -> dict:
        spec = {"name": type(self).__name__, "parameters": self.params}
        if self.fitted is not None:
            spec["fitted"] = self.fitted
        return spec


class ExternalProcessor(Processor):
    """Wrap a bare ``Column -> Column`` callable
    (reference processing_chain.py:27-35)."""

    def __init__(self, fct):
        super().__init__()
        self.fct = fct

    def expr(self, col, info):
        return self.fct(col), {}

    def to_spec(self):
        raise ValueError("ExternalProcessor (opaque callable) is not serializable")


class Dummy(Processor):
    """Identity (reference processors.py:613)."""

    def sql(self, col_sql, info):
        return col_sql, {}


class Scaler(Processor):
    """Static amplitude scaling (reference processors.py:168-195):
    ``uint16`` → x/2^16, ``int16`` → x/(2^15-1), ``wav_2_01`` → (x+1)/2.
    Invertible. Pure elementwise expression."""

    _SCALE = {"uint16": float(2**16), "int16": float(2**15 - 1)}

    def __init__(self, type: str):
        super().__init__(type=type)
        if type not in ("uint16", "int16", "wav_2_01"):
            raise ValueError(f"unknown Scaler type '{type}'")
        self.type = type

    def sql(self, col_sql, info):
        if self.type == "wav_2_01":
            f = lambda x: f"({x} + 1.0D) / 2.0D"  # noqa: E731
        else:
            f = lambda x: f"{x} / {sql_double(self._SCALE[self.type])}"  # noqa: E731
        return _elementwise(col_sql, f, info), {}

    def inv_sql(self, col_sql, info):
        if self.type == "wav_2_01":
            f = lambda x: f"{x} * 2.0D - 1.0D"  # noqa: E731
        else:
            f = lambda x: f"{x} * {sql_double(self._SCALE[self.type])}"  # noqa: E731
        return _elementwise(col_sql, f, info)


class Logarithm(Processor):
    """``base10`` → 20*log10(x), ``natural`` → ln(x) (reference
    processors.py:464-480). The inverse here is the TRUE inverse
    (10^(x/20) / e^x); the reference's ``(10**x)/20`` (processors.py:475)
    is a documented upstream bug we do not reproduce."""

    def __init__(self, type: str = "base10"):
        super().__init__(type=type)
        if type not in ("base10", "natural"):
            raise ValueError(f"unknown Logarithm type '{type}'")
        self.type = type

    def sql(self, col_sql, info):
        f = (
            (lambda x: f"20.0D * log10({x})")
            if self.type == "base10"
            else (lambda x: f"ln({x})")
        )
        return _elementwise(col_sql, f, info), {}

    def inv_sql(self, col_sql, info):
        f = (
            (lambda x: f"pow(10.0D, {x} / 20.0D)")
            if self.type == "base10"
            else (lambda x: f"exp({x})")
        )
        return _elementwise(col_sql, f, info)


def window_values(window_func: str, n: int, periodic: bool = True) -> np.ndarray:
    """Window samples from the public cosine-sum definitions (scipy-free).
    ``periodic=True`` matches scipy.signal.get_window(..., fftbins=True),
    the reference Windowing default (symmetry=True → fftbins=True)."""
    if window_func in (None, "none", "None", "rect", "boxcar"):
        return np.ones(n)
    m = float(n if periodic else n - 1) or 1.0
    i = np.arange(n)
    if window_func == "hamming":
        return 0.54 - 0.46 * np.cos(2 * np.pi * i / m)
    if window_func in ("hann", "hanning"):
        return 0.5 - 0.5 * np.cos(2 * np.pi * i / m)
    if window_func == "blackman":
        return (
            0.42 - 0.5 * np.cos(2 * np.pi * i / m) + 0.08 * np.cos(4 * np.pi * i / m)
        )
    raise ValueError(f"unknown window '{window_func}'")


def _window(window_func: str, periodic: bool):
    """(x_sql, i_sql, n_sql) -> windowed x with a DYNAMIC length n
    (handles ragged arrays — no literal window table needed)."""
    if window_func in (None, "none", "None", "rect", "boxcar"):
        return lambda x, i, n: x
    two_pi = sql_double(2.0 * math.pi)

    def w(i, n):
        m = f"CAST({n} AS DOUBLE)" if periodic else f"CAST(({n}) - 1 AS DOUBLE)"
        phase = f"{two_pi} * CAST({i} AS DOUBLE) / {m}"
        if window_func == "hamming":
            return f"(0.54D - 0.46D * cos({phase}))"
        if window_func in ("hann", "hanning"):
            return f"(0.5D - 0.5D * cos({phase}))"
        if window_func == "blackman":
            return f"(0.42D - 0.5D * cos({phase}) + 0.08D * cos(2.0D * ({phase})))"
        raise ValueError(f"unknown window '{window_func}'")

    return lambda x, i, n: f"{x} * {w(i, n)}"


class Windowing(Processor):
    """Multiply an array by a window function (reference
    processors.py:264-293). Native: transform with (element, index)
    lambda and the cosine-sum window formula — ragged-safe, codegen'd."""

    def __init__(self, window_func: str = "hamming", symmetry: bool = True, axis: int = -1):
        super().__init__(window_func=window_func, symmetry=symmetry, axis=axis)
        self.window_func = window_func
        # reference passes fftbins=symmetry to scipy.get_window: True → periodic
        self.periodic = bool(symmetry)

    def sql(self, col_sql, info):
        wf = _window(self.window_func, self.periodic)
        return (
            _bind_operand(
                col_sql,
                lambda c: f"transform({c}, (__px, __pi) -> "
                f"{wf('__px', '__pi', f'size({c})')})",
            ),
            {},
        )


class ExpandDims(Processor):
    """np.expand_dims for 1-D arrays (reference processors.py:603-611):
    axis=0 → [arr] (1×n), axis=-1/1 → column vectors (n×1)."""

    def __init__(self, axis: int = -1):
        super().__init__(axis=axis)
        self.axis = axis

    def sql(self, col_sql, info):
        upd = {"dtype": f"array<{info.get('dtype', 'double')}>"}
        if self.axis == 0:
            return f"array({col_sql})", upd
        return f"transform({col_sql}, __px -> array(__px))", upd


def _arr_mean(c: str) -> str:
    return (
        f"(aggregate({c}, 0.0D, (__pa, __px) -> __pa + CAST(__px AS DOUBLE))"
        f" / CAST(size({c}) AS DOUBLE))"
    )


def _arr_moment(c: str, mu: str, p: int) -> str:
    return (
        f"(aggregate({c}, 0.0D, (__pa, __px) -> __pa +"
        f" pow(CAST(__px AS DOUBLE) - ({mu}), {sql_double(float(p))}))"
        f" / CAST(size({c}) AS DOUBLE))"
    )


class Aggregation(Processor):
    """Per-row array statistics (reference processors.py:483-520):
    mean / std (population, np default) / kurtosis (Fisher, biased —
    scipy default). 1-D arrays → array of one scalar per method; 2-D
    arrays with axis=0 → per-column stats, with axis=-1 → per-row stats,
    combined per ``combine`` ('concat' flattens). Pure HOF expressions."""

    _METHODS = ("mean", "std", "kurtosis")

    def __init__(self, methods=("mean", "std"), axis: int = 0, combine: str | None = None):
        methods = list(methods)
        super().__init__(methods=methods, axis=axis, combine=combine)
        bad = [m for m in methods if m not in self._METHODS]
        if bad:
            raise ValueError(f"unsupported Aggregation methods {bad}")
        self.methods = methods
        self.axis = axis
        self.combine = combine

    def _scalar_stats(self, c: str, mu: str) -> list[str]:
        """Stats given an already-BOUND mean (a lambda variable, not the
        mean aggregate expression — capturing the aggregate inside the
        moment lambdas would re-evaluate it per array element, O(n²))."""
        out = []
        for m in self.methods:
            if m == "mean":
                out.append(mu)
            elif m == "std":
                out.append(f"sqrt({_arr_moment(c, mu, 2)})")
            else:
                # kurtosis: m4/m2^2 - 3; NULL for a constant array
                # (m2 = 0 — undefined, and ANSI would raise
                # DIVIDE_BY_ZERO; scipy emits nan there). Oracles carry
                # the matching CASE WHEN m2 = 0 THEN NULL leg.
                m2 = _arr_moment(c, mu, 2)
                m4 = _arr_moment(c, mu, 4)
                out.append(
                    f"(CASE WHEN {m2} = 0.0D THEN CAST(NULL AS DOUBLE)"
                    f" ELSE {m4} / pow({m2}, 2.0D) - 3.0D END)"
                )
        return out

    def sql(self, col_sql, info):
        dt = str(info.get("dtype", "array<double>"))
        upd = {"time_step": 0} if self.axis == 0 else {}
        if not dt.startswith("array<array"):
            return (
                _bind_operand(
                    col_sql,
                    lambda c: f"element_at(transform(array({_arr_mean(c)}),"
                    f" __pm -> array("
                    + ", ".join(self._scalar_stats(c, "__pm"))
                    + ")), 1)",
                ),
                upd,
            )
        if self.axis in (1, -1):
            # 2-D, axis=-1: stats per ROW (over each inner array), like
            # np.mean(data, axis=-1) — one stats array per frame
            stats = ", ".join(self._scalar_stats("__pin", "__pm"))
            per_row = _bind_operand(
                col_sql,
                lambda c: f"transform({c}, __pin ->"
                f" element_at(transform(array({_arr_mean('__pin')}),"
                f" __pm -> array({stats})), 1))",
            )
            if self.combine == "concat":
                return f"flatten({per_row})", upd
            return per_row, upd

        # 2-D, axis=0: stats per column j across the rows
        def _axis0(c):
            n_rows = f"CAST(size({c}) AS DOUBLE)"
            width = f"size(element_at({c}, 1))"

            def col_mean(j):
                return (
                    f"(aggregate({c}, 0.0D, (__pa, __pr) -> __pa +"
                    f" CAST(element_at(__pr, {j}) AS DOUBLE)) / {n_rows})"
                )

            def col_moment(j, mu, p):
                return (
                    f"(aggregate({c}, 0.0D, (__pa, __pr) -> __pa +"
                    f" pow(CAST(element_at(__pr, {j}) AS DOUBLE) - ({mu}),"
                    f" {sql_double(float(p))})) / {n_rows})"
                )

            def col_std(j):
                return (
                    f"element_at(transform(array({col_mean(j)}),"
                    f" __pm -> sqrt({col_moment(j, '__pm', 2)})), 1)"
                )

            def col_kurt(j):
                return (
                    f"element_at(transform(array({col_mean(j)}), __pm ->"
                    f" {col_moment(j, '__pm', 4)} / pow({col_moment(j, '__pm', 2)}, 2.0D)"
                    f" - 3.0D), 1)"
                )

            per_method = []
            for m in self.methods:
                fn = {"mean": col_mean, "std": col_std, "kurtosis": col_kurt}[m]
                per_method.append(
                    f"transform(sequence(1, {width}), __pj -> {fn('__pj')})"
                )
            if self.combine == "concat":
                return f"flatten(array({', '.join(per_method)}))"
            return f"array({', '.join(per_method)})"

        return _bind_operand(col_sql, _axis0), upd


class Normalizer(Processor):
    """Fitted minmax/standard normalization (reference
    processors.py:93-165). ``fit`` is a distributed two-pass aggregate
    whose result is folded into the transform as literals — the
    reference's sklearn-scaler state → broadcast constants.

    1-D arrays fit GLOBAL statistics (the reference reshapes 1-D data to
    a single sklearn feature); 2-D arrays fit per-column statistics."""

    def __init__(self, type: str, feature_range=(0.0, 1.0)):
        super().__init__(type=type, feature_range=list(feature_range))
        if type not in ("minmax", "standard"):
            raise ValueError(f"unknown Normalizer type '{type}'")
        self.type = type
        self.feature_range = tuple(feature_range)
        self.fitted = None

    # -- fitting ------------------------------------------------------- #
    def fit(self, df: DataFrame, col: Column, info: dict) -> None:
        dt = str(info.get("dtype", ""))
        if dt.startswith("array<array"):
            self._fit_2d(df, col)
        elif dt.startswith("array"):
            self._fit_1d(df, col)
        else:
            self._fit_scalar(df, col)

    def _fit_scalar(self, df, col):
        x = col.cast("double")
        if self.type == "minmax":
            row = df.select(F.min(x), F.max(x)).first()
            self.fitted = {"min": [row[0]], "max": [row[1]]}
        else:
            row = df.select(F.avg(x), F.stddev_pop(x)).first()
            self.fitted = {"mean": [row[0]], "std": [row[1] or 1.0]}

    def _fit_1d(self, df, col):
        if self.type == "minmax":
            row = df.select(
                F.min(F.array_min(col)), F.max(F.array_max(col))
            ).first()
            self.fitted = {"min": [float(row[0])], "max": [float(row[1])]}
        else:
            s = df.select(
                F.sum(F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double"))).alias("s1"),
                F.sum(
                    F.aggregate(col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
                ).alias("s2"),
                F.sum(F.size(col).cast("bigint")).alias("n"),
            ).first()
            mu = s["s1"] / s["n"]
            var = max(s["s2"] / s["n"] - mu * mu, 0.0)
            self.fitted = {"mean": [mu], "std": [math.sqrt(var) or 1.0]}

    def _fit_2d(self, df, col):
        # per-column stats across every row of every example: explode the
        # outer axis, then aggregate column-vector sums elementwise
        rows = df.select(F.explode(col).alias("__r"))
        if self.type == "minmax":
            agg = rows.select(
                F.min(F.array_min("__r")).alias("lo"), F.max(F.array_max("__r")).alias("hi"),
                F.first(F.size("__r")).alias("w"),
            ).first()
            w = agg["w"]
            mins = rows.select(
                *[F.min(F.element_at("__r", j + 1)).alias(f"m{j}") for j in range(w)]
            ).first()
            maxs = rows.select(
                *[F.max(F.element_at("__r", j + 1)).alias(f"m{j}") for j in range(w)]
            ).first()
            self.fitted = {"min": [float(v) for v in mins], "max": [float(v) for v in maxs]}
        else:
            w = rows.select(F.first(F.size("__r"))).first()[0]
            stats = rows.select(
                *[F.avg(F.element_at("__r", j + 1)).alias(f"a{j}") for j in range(w)],
                *[F.stddev_pop(F.element_at("__r", j + 1)).alias(f"s{j}") for j in range(w)],
            ).first()
            self.fitted = {
                "mean": [float(stats[j]) for j in range(w)],
                "std": [float(stats[w + j]) or 1.0 for j in range(w)],
            }

    # -- transform ----------------------------------------------------- #
    def _minmax(self, j):
        """SQL literals (min, scale, hi - lo, lo) of column j's minmax map."""
        lo, hi = self.feature_range
        mn, mx = self.fitted["min"][j], self.fitted["max"][j]
        return tuple(sql_double(v) for v in (mn, (mx - mn) or 1.0, hi - lo, lo))

    def _standard(self, j):
        """SQL literals (mean, std) of column j's standard map."""
        return sql_double(self.fitted["mean"][j]), sql_double(self.fitted["std"][j])

    def _fwd1(self, x, j):
        x = f"CAST({x} AS DOUBLE)"
        if self.type == "minmax":
            mn, scale, span, lo = self._minmax(j)
            return f"({x} - {mn}) / {scale} * {span} + {lo}"
        mu, sd = self._standard(j)
        return f"({x} - {mu}) / {sd}"

    def _bwd1(self, x, j):
        x = f"CAST({x} AS DOUBLE)"
        if self.type == "minmax":
            mn, scale, span, lo = self._minmax(j)
            return f"({x} - {lo}) / {span} * {scale} + {mn}"
        mu, sd = self._standard(j)
        return f"{x} * {sd} + {mu}"

    def _apply(self, col_sql, info, f1):
        if self.fitted is None:
            raise RuntimeError("Normalizer.fit must run before process (reference parity)")
        n = len(self.fitted.get("min", self.fitted.get("mean", [0])))
        if n > 1 and str(info.get("dtype", "")).startswith("array<array"):
            # per-column params dispatched on the runtime column index:
            # a CASE over the (small) fitted vector
            pick = f1("__px", 0)
            for j in range(1, n):
                pick = f"CASE WHEN __pi = {j} THEN {f1('__px', j)} ELSE {pick} END"
            return f"transform({col_sql}, __pr -> transform(__pr, (__px, __pi) -> {pick}))"
        return _elementwise(col_sql, lambda x: f1(x, 0), info)

    def sql(self, col_sql, info):
        return self._apply(col_sql, info, self._fwd1), {}

    def inv_sql(self, col_sql, info):
        return self._apply(col_sql, info, self._bwd1)


class Framing(Processor):
    """Overlapping frames in seconds (reference processors.py:198-261):
    frame_length = round(windowsize*fs), step = round(stepsize*fs), then
    the window function per frame. Native explode-free version — output
    is array<array<double>> (one row stays one row; use
    operators/split.frame_array for the cardinality-changing form)."""

    def __init__(
        self,
        windowsize: float,
        stepsize: float | None = None,
        window_func: str = "hamming",
        fs: float | None = None,
        axis: int = -1,
    ):
        super().__init__(
            windowsize=windowsize, stepsize=stepsize, window_func=window_func, fs=fs, axis=axis
        )
        self.windowsize = windowsize
        self.stepsize = stepsize
        self.window_func = window_func
        self.fs = fs

    def sql(self, col_sql, info):
        fs = info.get("fs", self.fs)
        if fs is None and info.get("time_step"):
            fs = 1.0 / info["time_step"]
        if fs is None:
            raise ValueError("fs not provided in Framing (init, info, or chain)")
        frame_len = int(round(self.windowsize * fs))
        step = 1 if self.stepsize is None else int(round(self.stepsize * fs))
        wf = _window(self.window_func, periodic=True)
        body = wf("CAST(__px AS DOUBLE)", "__pk", str(frame_len))

        def _frames(c):
            nf = f"CAST(FLOOR((size({c}) - {frame_len}) / {step}) + 1 AS INT)"
            idx = (
                f"(CASE WHEN {nf} > 0 THEN sequence(0, {nf} - 1)"
                f" ELSE CAST(array() AS ARRAY<INT>) END)"
            )
            return (
                f"transform({idx}, __pi -> transform("
                f"slice({c}, __pi * {step} + 1, {frame_len}),"
                f" (__px, __pk) -> {body}))"
            )

        upd = {"dtype": "array<array<double>>"}
        if self.stepsize:
            upd["time_step"] = self.stepsize
        return _bind_operand(col_sql, _frames), upd


# --------------------------------------------------------------------- #
# pandas-UDF processors (no native Spark primitive)
# --------------------------------------------------------------------- #
class FFT(Processor):
    """Real/full FFT with nextpow2 padding and magnitude/power/split
    output (reference processors.py:296-351). Arrow-batched pandas UDF
    over array<double> — np.fft on the executor, never row-at-a-time."""

    def __init__(
        self,
        type: str = "real",
        nfft: str | int = "nextpow2",
        format: str = "magnitude",
        dc_reset: bool = False,
        norm: str | None = None,
    ):
        super().__init__(type=type, nfft=nfft, format=format, dc_reset=dc_reset, norm=norm)
        if type not in ("real", "full"):
            raise ValueError(f"unknown FFT type '{type}'")
        if format not in ("magnitude", "power", "split", "complex"):
            raise ValueError(f"unknown FFT format '{format}'")
        self.type = type
        self.nfft = nfft
        self.format = format
        self.dc_reset = dc_reset
        self.norm = norm

    def _nfft_for(self, n: int) -> int:
        if self.nfft == "nextpow2":
            return int(2 ** math.ceil(math.log2(n)))
        if self.nfft == "original":
            return n
        return int(self.nfft)

    def expr(self, col, info):
        typ, fmt, dc, norm = self.type, self.format, self.dc_reset, self.norm
        nfft_of = self._nfft_for

        @pandas_udf("array<double>")
        def fft_udf(s):
            import pandas as pd

            # batched by signal length: one 2-D rfft per distinct length
            # in the Arrow batch instead of a Python-loop rfft per row —
            # for the common fixed-length case this is a single
            # vectorized transform over the whole batch.
            vals = s.to_numpy()
            lengths = np.fromiter((len(x) for x in vals), dtype=np.int64, count=len(vals))
            out = np.empty(len(vals), dtype=object)
            for n in np.unique(lengths):
                idx = np.nonzero(lengths == n)[0]
                mat = np.empty((len(idx), n), dtype=np.float64)
                for row, i in enumerate(idx):
                    mat[row] = vals[i]
                nfft = nfft_of(int(n))
                spec = (
                    np.fft.rfft(mat, n=nfft, axis=1, norm=norm)
                    if typ == "real"
                    else np.fft.fft(mat, n=nfft, axis=1, norm=norm)
                )
                if fmt == "magnitude":
                    y = np.abs(spec)
                elif fmt == "power":
                    y = np.abs(spec) ** 2
                else:  # split
                    y = np.concatenate([np.real(spec), np.imag(spec)], axis=1)
                if dc:
                    y[:, 0] = 0.0
                for row, i in enumerate(idx):
                    out[i] = y[row]
            return pd.Series(out)

        upd = {"dtype": "array<double>"}
        n_in = info.get("n_samples")
        if n_in:
            upd["nfft"] = self._nfft_for(int(n_in))
            upd["n_samples"] = (
                upd["nfft"] // 2 + 1 if self.type == "real" else upd["nfft"]
            )
        return fft_udf(col), upd


def mel_filterbank(
    n_bands: int,
    nfft: int,
    fs: float,
    fmin: float = 0.0,
    fmax: float | None = None,
    scale: str = "mel",
    norm: str | None = None,
) -> np.ndarray:
    """Triangular mel/linear filterbank matrix (n_bands × nfft//2+1) from
    the public HTK-style construction (reference processors.py:354-461
    describes the same math). Built once at plan-compile time."""
    high = min(fs / 2.0, fmax if fmax is not None else np.inf)
    if scale == "mel":
        lo_mel = 2595.0 * np.log10(1.0 + fmin / 700.0)
        hi_mel = 2595.0 * np.log10(1.0 + high / 700.0)
        start_hz = 700.0 * (10 ** ((lo_mel + np.arange(0, n_bands) / (n_bands + 1) * (hi_mel - lo_mel)) / 2595.0) - 1.0)
        stop_hz = 700.0 * (10 ** ((lo_mel + np.arange(2, n_bands + 2) / (n_bands + 1) * (hi_mel - lo_mel)) / 2595.0) - 1.0)
    elif scale == "linear":
        pts = np.linspace(fmin, high, n_bands + 2)
        start_hz, stop_hz = pts[:-2], pts[2:]
    else:
        raise ValueError(f"unknown filterbank scale '{scale}'")
    start_bin = np.round(nfft / fs * start_hz)
    stop_bin = np.round(nfft / fs * stop_hz)
    middle_bin = np.append(start_bin[1:], stop_bin[-2])
    low_len = middle_bin - start_bin + 1
    high_len = (stop_bin - start_bin + 1) - low_len + 1
    fbank = np.zeros((n_bands, int(nfft // 2 + 1)))
    for m in range(n_bands):
        rise = np.arange(1, low_len[m] + 1) / low_len[m]
        for k in range(int(low_len[m])):
            fbank[m, int(start_bin[m] + k)] = rise[k]
        fall = np.arange(high_len[m], 0, -1) / high_len[m]
        for k in range(int(high_len[m])):
            fbank[m, int(middle_bin[m] + k)] = fall[k]
    if norm == "slaney":
        fbank *= (2.0 / (stop_hz - start_hz))[:, np.newaxis]
    return fbank


class Filterbank(Processor):
    """Apply a precomputed mel/linear filterbank by matmul (reference
    processors.py:354-461): the matrix is built ONCE driver-side.

    Triangular mel/linear filters are sparse — each frequency bin feeds
    at most two overlapping bands — so when the matrix has few nonzeros
    the matmul unrolls into pure JVM expressions (one literal-weighted
    sum per band over the lambda-bound input; zeros skipped), parsed
    once: q91's plan build was ~1.6k py4j round trips as a Column tree,
    ~10 as one parse. Dense / very large banks fall back to an Arrow
    pandas UDF. Zero outputs are eps-floored like the reference."""

    #: beyond this many nonzero coefficients the unrolled expression
    #: tree stops being worth it; fall back to the Arrow UDF matmul
    MAX_NATIVE_NNZ = 2048

    def __init__(
        self,
        n_bands: int,
        scale: str = "mel",
        nfft: int | None = None,
        fmin: float = 0.0,
        fmax: float | None = None,
        norm: str | None = None,
        fs: float | None = None,
    ):
        super().__init__(
            n_bands=n_bands, scale=scale, nfft=nfft, fmin=fmin, fmax=fmax, norm=norm, fs=fs
        )
        self.n_bands = n_bands
        self.scale = scale
        self.nfft = nfft
        self.fmin = fmin
        self.fmax = fmax
        self.norm = norm
        self.fs = fs

    def _matrix(self, info) -> np.ndarray:
        """The (nfft//2+1, n_bands) bank for this chain position."""
        fs = info.get("fs", self.fs)
        if fs is None:
            raise ValueError("no fs given in Filterbank (init or chain info)")
        nfft = info.get("nfft", self.nfft)
        if nfft is None:
            raise ValueError("no nfft provided in Filterbank (init or prior FFT stage)")
        if self.nfft is not None and "nfft" in info and info["nfft"] != self.nfft:
            raise ValueError(
                f"nfft mismatch: Filterbank configured {self.nfft}, prior stage emits {info['nfft']}"
                " (reference processors.py:387-394 asserts the same at process time;"
                " here it fails at plan-build)"
            )
        return mel_filterbank(
            self.n_bands, int(nfft), float(fs), self.fmin, self.fmax, self.scale, self.norm
        ).T

    def sql(self, col_sql, info):
        """Left-associative literal-weighted sums (ascending j) with the
        eps-floor CASE, over the operand bound once; None past
        MAX_NATIVE_NNZ (the Arrow UDF in expr)."""
        fb = self._matrix(info)
        if int(np.count_nonzero(fb)) > self.MAX_NATIVE_NNZ:
            return None
        eps = sql_double(float(np.finfo(float).eps))
        bands = []
        for b in range(self.n_bands):
            acc = "0.0D"
            for j in range(fb.shape[0]):
                v = float(fb[j, b])
                if v != 0.0:
                    acc += f" + {sql_double(v)} * element_at(__pc, {j + 1})"
            bands.append(f"(CASE WHEN ({acc}) = 0.0D THEN {eps} ELSE ({acc}) END)")
        return (
            f"element_at(transform(array({col_sql}),"
            f" __pc -> array({', '.join(bands)})), 1)",
            {"n_samples": self.n_bands, "dtype": "array<double>"},
        )

    def expr(self, col, info):
        """The Arrow-UDF matmul, for banks past MAX_NATIVE_NNZ."""
        fb = self._matrix(info)
        eps = float(np.finfo(float).eps)

        @pandas_udf("array<double>")
        def fbank_udf(s):
            import pandas as pd

            mat = np.stack([np.asarray(x, dtype=np.float64) for x in s]) if len(s) else np.zeros((0, fb.shape[0]))
            out = mat @ fb
            out = np.where(out == 0, eps, out)
            return pd.Series(list(out))

        return fbank_udf(col), {"n_samples": self.n_bands, "dtype": "array<double>"}


def firwin(
    taps: int, f, window: str = "hamming", fs: float = 2.0, pass_zero: bool = True
) -> np.ndarray:
    """Windowed-sinc FIR design (public textbook method; scipy-free).
    ``f``: cutoff Hz (scalar) or [low, high]. Returns ``taps`` coefficients
    (taps forced odd by callers). Scaling normalizes unit gain at the
    center of the passband (DC / Nyquist / band center), matching
    scipy.firwin's convention."""
    fc = np.atleast_1d(np.asarray(f, dtype=np.float64)) / (fs / 2.0)
    n = np.arange(taps) - (taps - 1) / 2.0
    w = window_values(window, taps, periodic=False)

    def lp(c):
        return c * np.sinc(c * n)

    delta = np.sinc(n)  # allpass (1 at center tap)
    if pass_zero:
        h = lp(fc[0]) if len(fc) == 1 else delta - (lp(fc[1]) - lp(fc[0]))
        gain_freq = 0.0
    else:
        h = (delta - lp(fc[0])) if len(fc) == 1 else lp(fc[1]) - lp(fc[0])
        gain_freq = 1.0 if len(fc) == 1 else (fc[0] + fc[1]) / 2.0
    h = h * w
    # normalize gain at gain_freq (in normalized-Nyquist units) to 1
    resp = np.sum(h * np.cos(np.pi * gain_freq * n))
    return h / resp


class FIRFilter(Processor):
    """Design-once, apply-per-row FIR filtering (reference
    processors.py:523-575): coefficients from windowed-sinc design at
    plan-compile time. Short filters (taps <= 33, the common audio case)
    apply as a fully JVM-side unrolled causal convolution — the tap
    constants fold into the plan as literals and the input array is
    bound once through a lambda variable, so no Python stage and no
    re-evaluation of upstream chain stages. Longer filters fall back to
    an Arrow pandas UDF (identical to scipy.signal.lfilter(b, 1, x))."""

    #: above this tap count the unrolled expression outgrows its benefit
    MAX_NATIVE_TAPS = 33

    def __init__(
        self,
        type: str,
        f,
        taps: int,
        window: str = "hamming",
        fs: float | None = None,
        axis: int = -1,
    ):
        taps = int(taps) | 1  # odd taps, like the reference
        super().__init__(type=type, f=f, taps=taps, window=window, fs=fs, axis=axis)
        if type not in ("lowpass", "highpass", "bandpass", "bandstop"):
            raise ValueError(f"unknown FIRFilter type '{type}'")
        self.type = type
        self.f = f
        self.taps = taps
        self.window = window
        self.fs = fs

    def coefficients(self, fs: float) -> np.ndarray:
        pass_zero = self.type in ("lowpass", "bandstop")
        return firwin(self.taps, self.f, self.window, fs=fs, pass_zero=pass_zero)

    def _coefficients(self, info) -> np.ndarray:
        fs = info.get("fs", self.fs)
        if fs is None:
            raise ValueError("sampling frequency must reach FIRFilter (init or chain info)")
        return self.coefficients(float(fs))

    def sql(self, col_sql, info):
        """y[i] = sum_k h[k] * x[i-k], accumulated in ascending-k order
        (matches DuckDB list_sum fold order bit for bit); None past
        MAX_NATIVE_TAPS (the Arrow UDF in expr)."""
        h = self._coefficients(info)
        if self.taps > self.MAX_NATIVE_TAPS:
            return None
        acc = "0.0D"
        for k, hk in enumerate((float(v) for v in h), start=1):
            acc += (
                f" + (CASE WHEN __pi - {k} + 1 >= 1 THEN"
                f" {sql_double(hk)} * element_at(__pa, __pi - {k} + 1)"
                f" ELSE 0.0D END)"
            )
        # sequence(1, 0) DESCENDS to [1, 0] — empty inputs must map to
        # empty outputs (like np.convolve), not two spurious rows / an
        # out-of-bounds element_at
        conv = (
            f"(CASE WHEN size(__pa) > 0 THEN"
            f" transform(sequence(1, size(__pa)), __pi -> {acc})"
            f" ELSE CAST(array() AS ARRAY<DOUBLE>) END)"
        )
        # the operand is bound ONCE as __pa: element_at over a lambda
        # variable is O(1), over an inlined expression it re-evaluates
        # the expression per (i, k) term
        return (
            f"element_at(transform(array({col_sql}), __pa -> {conv}), 1)",
            {"dtype": "array<double>"},
        )

    def expr(self, col, info):
        """The Arrow-UDF convolution, for filters past MAX_NATIVE_TAPS."""
        h = self._coefficients(info)

        @pandas_udf("array<double>")
        def fir_udf(s):
            import pandas as pd

            out = []
            for x in s:
                arr = np.asarray(x, dtype=np.float64)
                # np.convolve rejects an empty input; empty maps to empty
                # like the native path
                out.append(np.convolve(arr, h, mode="full")[: arr.shape[0]] if arr.size else arr)
            return pd.Series(out)

        return fir_udf(col), {"dtype": "array<double>"}


class Resample(Processor):
    """FFT-method resampling (reference processors.py:578-600 uses
    scipy.signal.resample, which is the same rfft-truncate/pad-irfft
    construction; implemented directly in numpy)."""

    def __init__(self, target_fs: float, fs: float | None = None, axis: int = 0, window=None):
        super().__init__(target_fs=target_fs, fs=fs, axis=axis, window=window)
        self.target_fs = target_fs
        self.fs = fs

    def expr(self, col, info):
        fs = info.get("fs", self.fs)
        if fs is None:
            raise ValueError("fs must reach Resample (init or chain info)")
        ratio = self.target_fs / float(fs)

        @pandas_udf("array<double>")
        def resample_udf(s):
            import pandas as pd

            # batched by input length (same pattern as FFT): one 2-D
            # rfft/irfft per distinct length instead of per row
            vals = s.to_numpy()
            lengths = np.fromiter((len(x) for x in vals), dtype=np.int64, count=len(vals))
            out = np.empty(len(vals), dtype=object)
            for n in np.unique(lengths):
                idx = np.nonzero(lengths == n)[0]
                n = int(n)
                mat = np.empty((len(idx), n), dtype=np.float64)
                for row, i in enumerate(idx):
                    mat[row] = vals[i]
                num = int(round(ratio * n))
                spec = np.fft.rfft(mat, axis=1)
                target = np.zeros((len(idx), num // 2 + 1), dtype=complex)
                ncopy = min(spec.shape[1], target.shape[1])
                target[:, :ncopy] = spec[:, :ncopy]
                y = np.fft.irfft(target, num, axis=1) * (num / n)
                for row, i in enumerate(idx):
                    out[i] = y[row]
            return pd.Series(out)

        return resample_udf(col), {
            "fs": self.target_fs,
            "time_step": 1.0 / self.target_fs,
            "dtype": "array<double>",
        }


PROCESSORS = {
    p.__name__: p
    for p in (
        Dummy,
        Scaler,
        Normalizer,
        Logarithm,
        Windowing,
        ExpandDims,
        Aggregation,
        Framing,
        FFT,
        Filterbank,
        FIRFilter,
        Resample,
    )
}


def resolve(name: str):
    """Name → processor class (reference processing_chain.py:69-80's
    string resolution, including the dynamic custom-module import:
    unknown names fall back to <DABSTRACT_SPARK_CUSTOM_DIR>/processors.py)."""
    if name in PROCESSORS:
        return PROCESSORS[name]
    from dabstract_spark.custom import resolve_custom

    hit = resolve_custom("processors", name)
    if hit is not None:
        return hit
    raise KeyError(f"unknown processor '{name}'; have {sorted(PROCESSORS)}")
