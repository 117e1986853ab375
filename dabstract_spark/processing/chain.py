"""ProcessingChain: named-stage composition of processors into ONE Column
expression (reference: dabstract ``dataprocessor/processing_chain.py:37-189``).

The reference folds data row-by-row through Python processors, threading
a per-example info dict. Here the chain composes one expression at
plan-compile time: ``expr()`` returns the fused expression (Catalyst sees
one tree — native stages are SQL text parsed once and stay inside
whole-stage codegen; pandas-UDF stages become single Arrow exchanges;
``_compose`` joins the two), and the info dict is threaded
STATICALLY between stages, so inter-stage contracts (e.g. Filterbank
checking the FFT's nfft, reference processors.py:387-394) fail at
plan-build instead of mid-job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, functions as F

from dabstract_spark.core import BOUND, bind_sql
from dabstract_spark.processing import processors as P


class ProcessingChain:
    """Composable processor pipeline.

    ``add`` accepts (reference processing_chain.py:50-95):
    - a Processor instance,
    - a processor class (instantiated with ``parameters``),
    - a string name resolved via the registry,
    - a bare ``Column -> Column`` callable (wrapped ExternalProcessor),
    - a list of ``{"name": ..., "parameters": ...}`` dicts,
    - a ``{"chain": [...]}`` config dict,
    - None (no-op).
    """

    def __init__(self, chain=None):
        self._chain: list[P.Processor] = []
        if chain is not None:
            self.add(chain)

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #
    def add(self, name, parameters: dict | None = None) -> "ProcessingChain":
        parameters = dict(parameters or {})
        if name is None or name in ("none", "None"):
            return self
        if isinstance(name, P.Processor):
            self._chain.append(name)
            return self
        if isinstance(name, dict):
            if "chain" not in name:
                raise ValueError("config dict must contain a 'chain' entry")
            return self.add(name["chain"])
        if isinstance(name, (list, tuple)):
            for item in name:
                if isinstance(item, dict) and "name" in item:
                    self.add(item["name"], item.get("parameters"))
                else:
                    self.add(item)
            return self
        if isinstance(name, str):
            cls = P.resolve(name)
            proc = cls(**parameters)
            return self.add(proc)
        if isinstance(name, type):
            return self.add(name(**parameters))
        if callable(name):
            return self.add(P.ExternalProcessor(name))
        raise TypeError(f"cannot add {type(name)} to ProcessingChain")

    def __len__(self) -> int:
        return len(self._chain)

    @property
    def stages(self) -> list[P.Processor]:
        return list(self._chain)

    # ------------------------------------------------------------------ #
    # compilation (reference .process/.__call__, :97-111)
    # ------------------------------------------------------------------ #
    def _compose(self, col, info, inverse=False, fit_df=None) -> tuple[Column, dict]:
        """The one composition loop behind expr_info, inv_expr and fit.

        The running operand is SQL text over either a column name (a
        string input) or one bound Column (a Column input, or a Python
        stage's output, as ``core.BOUND``). Native stages append to the
        text; a Python stage (``sql``/``inv_sql`` is None) receives the
        text materialized as a Column and its result becomes the new
        bound Column. So a chain costs one ``F.expr`` parse per run of
        native stages plus the Python stages' own Columns, and no native
        stage is ever built Column by Column. ``fit_df`` fits each
        stateful stage on the operand as processed by all prior stages."""
        info = dict(info or {})
        if isinstance(col, str):
            # backtick-quoted TOP-LEVEL column name: embedded backticks
            # are doubled per the SQL quoting rule. Note the string-key
            # contract here is "a column name", unlike F.col(), where a
            # dotted string may resolve a nested field — dataset
            # add_feature/apply keys are top-level by construction.
            bound, text = None, f"`{col.replace('`', '``')}`"
        else:
            bound, text = col, BOUND

        def column() -> Column:
            if bound is None:
                return F.expr(text)
            return bound if text == BOUND else bind_sql(bound, text)

        for proc in reversed(self._chain) if inverse else self._chain:
            if fit_df is not None and callable(getattr(proc, "fit", None)):
                proc.fit(fit_df, column(), info)
            got = proc.inv_sql(text, info) if inverse else proc.sql(text, info)
            if got is None:
                c = column()
                bound, upd = (proc.inv_expr(c, info), {}) if inverse else proc.expr(c, info)
                text = BOUND
            else:
                text, upd = (got, {}) if inverse else got
            info.update(upd)
        return column(), info

    def expr(self, col: Column | str, info: dict | None = None) -> Column:
        c, _ = self.expr_info(col, info)
        return c

    def expr_info(self, col: Column | str, info: dict | None = None) -> tuple[Column, dict]:
        """Compose all stages; returns (expression, final info dict)."""
        return self._compose(col, info)

    def inv_expr(self, col: Column | str, info: dict | None = None) -> Column:
        """Reverse-composed inverses (reference inv_process, :113-120);
        raises if any stage lacks one, like the reference's assert. The
        info dict is the forward input's, unchanged between stages."""
        return self._compose(col, info, inverse=True)[0]

    # ------------------------------------------------------------------ #
    # DataFrame-level application
    # ------------------------------------------------------------------ #
    def process_df(
        self,
        df: DataFrame,
        key: str,
        new_key: str | None = None,
        info: dict | None = None,
    ) -> DataFrame:
        info = dict(info or {})
        info.setdefault("dtype", dict(df.dtypes).get(key))
        # pass the NAME, not F.col(key): native stages then compose over
        # the name as text in one parse (see _compose)
        return df.withColumn(new_key or key, self.expr(key, info))

    # ------------------------------------------------------------------ #
    # fitting (reference .fit, :122-172)
    # ------------------------------------------------------------------ #
    def fit(
        self,
        df: DataFrame,
        key: str,
        info: dict | None = None,
        init_subsample: float | None = None,
        seed: int = 0,
    ) -> "ProcessingChain":
        """Fit each stateful stage on the data as processed by all prior
        stages — the reference's causal recursion (:139-168), here as one
        aggregate job per stateful stage (no materialization loop).
        ``init_subsample`` fits on a Bernoulli sample."""
        info = dict(info or {})
        info.setdefault("dtype", dict(df.dtypes).get(key))
        fit_df = df.sample(fraction=init_subsample, seed=seed) if init_subsample else df
        self._compose(key, info, fit_df=fit_df)
        return self

    # ------------------------------------------------------------------ #
    # persistence (reference save/load/exists, :174-189): JSON spec, not
    # pickle — engine-portable and diffable
    # ------------------------------------------------------------------ #
    def to_spec(self) -> dict:
        return {"chain": [p.to_spec() for p in self._chain]}

    @classmethod
    def from_spec(cls, spec: dict) -> "ProcessingChain":
        out = cls()
        for st in spec.get("chain", []):
            proc = P.resolve(st["name"])(**st.get("parameters", {}))
            if st.get("fitted") is not None:
                proc.fitted = st["fitted"]
            out.add(proc)
        return out

    def save(self, filepath: str, ext: str = ".json") -> None:
        with open(filepath + ext, "w") as f:
            json.dump(self.to_spec(), f, indent=1)

    @classmethod
    def load(cls, filepath: str, ext: str = ".json") -> "ProcessingChain":
        with open(filepath + ext) as f:
            return cls.from_spec(json.load(f))

    @staticmethod
    def exists(filepath: str, ext: str = ".json") -> bool:
        return os.path.isfile(filepath + ext)

    def summary(self) -> list[dict]:
        out = []
        for p in self._chain:
            try:
                out.append(p.to_spec())
            except ValueError:
                out.append({"name": type(p).__name__, "parameters": "<callable>"})
        return out
