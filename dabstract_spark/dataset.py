"""The ``Dataset`` façade: dabstract's table API as sugar over a DataFrame.

Reference: ``Dataset``/``DictSeqAbstract``
(/root/reference/dabstract/dataset/dataset.py:17-121,
/root/reference/dabstract/abstract/abstract.py:1530-1774). Every method
here is a thin wrapper that returns a *new* Dataset over a transformed
DataFrame — the operator graph is the Catalyst logical plan, not a Python
object tree, so column pruning / predicate pushdown / join selection are
automatic.

Semantic translations (documented divergences):
- integer indexing → ``row_id`` filters / slices (see core.py);
- ``lazy=False`` eager columns → ``cache()`` (DataFrames are immutable, so
  ``__setitem__`` on an eager column becomes ``replace_column`` → new Dataset);
- the per-example ``info`` side-channel → ordinary columns;
- ``FilterAbstract``'s undefined length → plain relational filter.
"""

from __future__ import annotations

from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, Window, functions as F

from dabstract_spark import core
from dabstract_spark.core import ROW_ID

# Auto-columns injected on every dataset, mirroring
# /root/reference/dabstract/dataset/dataset.py:274-285.
META_COLS = ("test_only", "dataset_id", "dataset_str")


class Dataset:
    """A named table with ordinal row identity and dabstract's management API.

    Wraps an immutable DataFrame; all mutators return a new Dataset.
    ``active_keys`` is the persistent projection (reference
    ``set_active_keys``, abstract.py:1681-1706).
    """

    def __init__(
        self,
        df: DataFrame,
        name: str = "dataset",
        active_keys: tuple[str, ...] | None = None,
        nr_datasets: int = 1,
        test_only: bool = False,
        _has_meta: bool = False,
    ):
        if not _has_meta:
            # inject only the missing auto-columns (an existing test_only
            # column is user data, e.g. a predefined eval split — keep it)
            if "test_only" not in df.columns:
                df = df.withColumn("test_only", F.lit(1 if test_only else 0))
            if "dataset_id" not in df.columns:
                df = df.withColumn("dataset_id", F.lit(0))
            if "dataset_str" not in df.columns:
                df = df.withColumn("dataset_str", F.lit(name))
        self._df = df
        self.name = name
        self._active_keys = tuple(active_keys) if active_keys else None
        self.nr_datasets = nr_datasets
        # xval state: (assignment DataFrame (key, fold), key col, val_frac, seed)
        self._xval: tuple | None = None

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #
    @classmethod
    def from_parquet(
        cls,
        spark,
        path: str,
        name: str | None = None,
        row_key: str | None = None,
        order_by: str | list[str] | None = None,
        test_only: bool = False,
    ) -> "Dataset":
        """Source a dataset from parquet with row-id discipline.

        ``row_key``: adopt an existing unique int column as row_id (free).
        ``order_by``: derive a dense ordinal by this total order (2 jobs).
        Neither: caller promises no ordinal ops will be used.
        """
        df = spark.read.parquet(path)
        if row_key is not None:
            df = core.row_id_from_key(df, row_key)
        elif order_by is not None:
            df = core.with_row_id(df, order_by)
        return cls(df, name=name or path.rsplit("/", 1)[-1], test_only=test_only)

    # ------------------------------------------------------------------ #
    # plumbing
    # ------------------------------------------------------------------ #
    @property
    def df(self) -> DataFrame:
        """The underlying DataFrame with the active-key projection applied."""
        if self._active_keys is None:
            return self._df
        keep = [k for k in self._active_keys]
        if ROW_ID in self._df.columns and ROW_ID not in keep:
            keep = [ROW_ID] + keep
        return self._df.select(*keep)

    @property
    def full_df(self) -> DataFrame:
        """All columns, ignoring active keys."""
        return self._df

    def keys(self) -> list[str]:
        return [c for c in self._df.columns if c != ROW_ID]

    def __len__(self) -> int:
        return self._df.count()

    def _evolve(self, df: DataFrame, **kw) -> "Dataset":
        out = Dataset(
            df,
            name=kw.get("name", self.name),
            active_keys=kw.get("active_keys", self._active_keys),
            nr_datasets=kw.get("nr_datasets", self.nr_datasets),
            _has_meta=True,
        )
        out._xval = kw.get("xval", self._xval)
        return out

    # ------------------------------------------------------------------ #
    # columns (DictSeqAbstract.add / add_alias / remove,
    # abstract.py:1542-1679)
    # ------------------------------------------------------------------ #
    def add(self, key: str, col: Column | DataFrame, lazy: bool = True) -> "Dataset":
        """Attach a column. A Column expression is a ``withColumn``; a
        (row_id, value) DataFrame is a 1:1 equi-join on row_id (the
        relational form of the reference's positional zip-join with its
        length assert, abstract.py:1560-1561). ``lazy=False`` caches."""
        if isinstance(col, DataFrame):
            other_cols = [c for c in col.columns if c != ROW_ID]
            if len(other_cols) != 1:
                raise ValueError("add(df) expects exactly (row_id, value)")
            # LEFT join: rows with no match keep NULL rather than silently
            # dropping — the reference's positional zip asserts equal
            # lengths (abstract.py:1560-1561), so cardinality must never
            # shrink here.
            joined = self._df.join(
                col.withColumnRenamed(other_cols[0], key), ROW_ID, "left"
            )
            out = joined
        else:
            out = self._df.withColumn(key, col)
        if not lazy:
            out = out.cache()
        return self._evolve(out)

    def add_map(self, key: str, fct, new_key: str | None = None, info: dict | None = None) -> "Dataset":
        """Lazy per-row map (reference MapAbstract/add_map,
        abstract.py:475-691, dataset.py:227-244). ``fct`` is a
        ``Column -> Column`` callable, a ProcessingChain (compiles to one
        fused expression), or a string/list resolved through the
        processor registry."""
        from dabstract_spark.processing import ProcessingChain

        if isinstance(fct, (str, list, tuple)):
            fct = ProcessingChain().add(fct)
        if isinstance(fct, ProcessingChain):
            return self._evolve(
                fct.process_df(self._df, key, new_key=new_key, info=info)
            )
        return self._evolve(self._df.withColumn(new_key or key, fct(F.col(key))))

    def add_alias(self, key: str, new_key: str) -> "Dataset":
        """Second name for a column (abstract.py:1677-1679)."""
        return self._evolve(self._df.withColumn(new_key, F.col(key)))

    def remove(self, key: str) -> "Dataset":
        return self._evolve(self._df.drop(key))

    def replace_column(self, key: str, col: Column) -> "Dataset":
        """Immutable stand-in for the reference's eager ``__setitem__``."""
        return self._evolve(self._df.withColumn(key, col))

    # ------------------------------------------------------------------ #
    # projection (UnpackAbstract / active keys, abstract.py:71-145,1681-1706)
    # ------------------------------------------------------------------ #
    def unpack(self, keys: Iterable[str]) -> "Dataset":
        keys = list(keys)
        cols = ([ROW_ID] if ROW_ID in self._df.columns else []) + keys
        return self._evolve(self._df.select(*cols), active_keys=None)

    def set_active_keys(self, keys: str | Iterable[str]) -> "Dataset":
        keys = (keys,) if isinstance(keys, str) else tuple(keys)
        missing = set(keys) - set(self._df.columns)
        if missing:
            raise KeyError(f"active keys not in dataset: {sorted(missing)}")
        return self._evolve(self._df, active_keys=keys)

    def reset_active_keys(self) -> "Dataset":
        return self._evolve(self._df, active_keys=None)

    def __getitem__(self, key):
        if isinstance(key, str):
            return self._df.select(*([ROW_ID] if ROW_ID in self._df.columns else []), key)
        if isinstance(key, slice):
            return self._evolve(core.slice_filter(self._df, key.start, key.stop, key.step))
        if isinstance(key, (list, tuple)):
            return self._evolve(core.select_indices(self._df, key))
        if isinstance(key, int):
            return self._evolve(self._df.filter(F.col(ROW_ID) == int(key)))
        raise TypeError(f"unsupported index type: {type(key)}")

    # ------------------------------------------------------------------ #
    # selection (SelectAbstract / add_select, abstract.py:1124-1310,
    # dataset.py:430-502; FilterAbstract, abstract.py:1313-1476)
    # ------------------------------------------------------------------ #
    def add_select(self, selector, **params) -> "Dataset":
        """Row subset. Accepts a Column predicate, a string naming a
        built-in selector (dabstract_spark.operators.select), an index
        list, or a slice."""
        from dabstract_spark.operators import select as sel

        if isinstance(selector, Column):
            return self._evolve(self._df.filter(selector))
        if isinstance(selector, str):
            return self._evolve(sel.resolve(selector)(self._df, **params))
        if isinstance(selector, slice):
            return self._evolve(
                core.slice_filter(self._df, selector.start, selector.stop, selector.step)
            )
        if isinstance(selector, (list, tuple)) or hasattr(selector, "__array__"):
            return self._evolve(core.select_indices(self._df, list(selector)))
        if callable(selector):
            return self._evolve(sel.apply_callable(self._df, selector, **params))
        raise TypeError(f"unsupported selector: {type(selector)}")

    def add_filter(self, pred: Column, return_none: bool = False, key: str | None = None) -> "Dataset":
        """FilterAbstract. ``return_none=True`` keeps cardinality and NULLs
        the active payload instead of dropping rows
        (abstract.py:1392-1396 → SQL NULL semantics)."""
        if not return_none:
            return self._evolve(self._df.filter(pred))
        targets = [key] if key else (list(self._active_keys or []) or self.keys())
        out = self._df
        for k in targets:
            if k in META_COLS or k == ROW_ID:
                continue
            out = out.withColumn(k, F.when(pred, F.col(k)))
        return self._evolve(out)

    # ------------------------------------------------------------------ #
    # concat (SeqAbstract/DictSeqAbstract/Dataset concat,
    # abstract.py:1580-1637, dataset.py:182-221)
    # ------------------------------------------------------------------ #
    def concat(self, other: "Dataset", intersect: bool = False) -> "Dataset":
        """Union of datasets with dataset_id lineage shift
        (dataset.py:207). ``intersect=True`` keeps only common columns;
        otherwise missing columns become NULL (KeyAbstract semantics,
        abstract.py:1479-1527)."""
        left, right = self._df, other._df
        shift = self.nr_datasets
        right = right.withColumn("dataset_id", F.col("dataset_id") + F.lit(shift))
        if ROW_ID in left.columns and ROW_ID in right.columns:
            # lazy scalar offset: broadcast cross-join of a 1-row aggregate
            # instead of an eager .first() scan at plan-BUILD time — k
            # chained concats used to mean k driver-blocking full scans
            off = left.select(
                (F.coalesce(F.max(ROW_ID), F.lit(-1)) + 1).alias("__row_off")
            )
            right = (
                right.crossJoin(F.broadcast(off))
                .withColumn(ROW_ID, F.col(ROW_ID) + F.col("__row_off"))
                .drop("__row_off")
            )
        if intersect:
            common = [c for c in left.columns if c in set(right.columns)]
            left, right = left.select(*common), right.select(*common)
            merged = left.unionByName(right)
        else:
            merged = left.unionByName(right, allowMissingColumns=True)
        return self._evolve(merged, nr_datasets=self.nr_datasets + other.nr_datasets)

    def __add__(self, other: "Dataset") -> "Dataset":
        return self.concat(other)

    # ------------------------------------------------------------------ #
    # aggregation-ish management (dataset.py:636-701, :260-271)
    # ------------------------------------------------------------------ #
    def get_unique(
        self,
        key: str,
        return_idx: bool | str = False,
        set_name: str | None = None,
        fold: int = 0,
        max_ids: int | None = None,
    ) -> DataFrame:
        """Distinct values of a column; with ``return_idx`` also the sorted
        row_id group per value. ``set_name``/``fold`` restrict to one xval
        view first (reference dataset.py:636-701's fold/set arguments).

        ``return_idx=True`` collects ALL row ids per value — the
        reference's contract (the group ARRAY is the output), and
        therefore bounded by the hottest value's cardinality: a value
        covering 10⁹ rows is one task's array. Scale callers have two
        outs: ``max_ids`` caps each group to its SMALLEST max_ids row
        ids, rank-filtered BEFORE the collect so the over-full array is
        never materialized (the same filter-then-collect discipline as
        the dedup pair miners); ``return_idx="long"`` skips the array
        entirely and returns the relational long form — one
        ``(value, row_id)`` row per member, a plain shuffle-free
        projection with no per-value state at all (``max_ids`` composes
        with it: the same smallest-max_ids rank filter applies first).
        Any other mode string raises."""
        src = (
            self if set_name is None else self.get_xval_set(set_name, fold)
        )._df
        if isinstance(return_idx, str) and return_idx != "long":
            raise ValueError(
                f"unknown return_idx mode {return_idx!r}; use True, False,"
                " or 'long'"
            )
        if not return_idx:
            return src.select(key).distinct().orderBy(key)
        if max_ids is not None:
            w = Window.partitionBy(key).orderBy(ROW_ID)
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= max_ids)
                .drop("__rn")
            )
        if return_idx == "long":
            return src.select(key, ROW_ID)
        return (
            src.groupBy(key)
            .agg(F.sort_array(F.collect_list(ROW_ID)).alias("row_ids"))
            .orderBy(key)
        )

    def summary(self) -> DataFrame:
        """Per-source row counts (dataset.py:260-271)."""
        return (
            self._df.groupBy("dataset_id", "dataset_str")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .orderBy("dataset_id")
        )

    # ------------------------------------------------------------------ #
    # cardinality ops (add_split, dataset.py:287-428; SplitAbstract /
    # SampleReplicateAbstract, abstract.py:746-1121)
    # ------------------------------------------------------------------ #
    def add_split(
        self,
        key: str | list[str],
        split_size: float,
        type: str = "samples",
        constraint: str | None = None,
        rate=None,
        chunk_col: str = "chunk_id",
        drop_last_partial: bool = False,
    ) -> "Dataset":
        """Chop array/string column(s) into consecutive chunks; one output
        row per chunk, all other columns replicated automatically (the
        reference's Split + SampleReplicate dance, dataset.py:287-428, is
        a single explode here).

        - ``type='samples'``: ``split_size`` is an element count.
        - ``type='seconds'``: window = round(split_size * rate) per key;
          ``rate`` is a number, a rate-column name, or a per-key dict of
          either (the reference derives it from each key's info fs).
        - ``constraint='power2'``: window rounded up to the next power of
          two (reference abstract.py:955-987).
        - multiple keys: each key chunked by its own window, chunk count
          normalized to the minimum across keys (min-duration
          normalization, dataset.py:379-393).
        """
        from dabstract_spark.operators import split as sp

        keys = [key] if isinstance(key, str) else list(key)
        dtypes = dict(self._df.dtypes)

        if len(keys) == 1 and type == "samples" and constraint is None and dtypes[keys[0]] == "string":
            out = sp.split_text(self._df, keys[0], int(split_size), chunk_col)
            return self._evolve(out)

        def rate_for(k) -> Column:
            r = rate[k] if isinstance(rate, dict) else rate
            if r is None:
                raise ValueError(f"type='seconds' needs a rate for key '{k}'")
            return F.col(r) if isinstance(r, str) else F.lit(float(r))

        windows: dict[str, Column] = {}
        for k in keys:
            if not dtypes[k].startswith("array"):
                raise TypeError(f"add_split expects array columns, got {dtypes[k]} for '{k}'")
            if type == "seconds":
                w = F.round(F.lit(float(split_size)) * rate_for(k)).cast("int")
            elif type == "samples":
                w = F.lit(int(split_size))
            else:
                raise ValueError(f"unknown split type '{type}'")
            if constraint == "power2":
                w = sp.next_pow2(w)
            elif constraint is not None:
                raise ValueError(f"unknown constraint '{constraint}'")
            windows[k] = w
        return self._evolve(
            sp.split_multi(self._df, windows, chunk_col, drop_last_partial)
        )

    def sample_replicate(self, factor, rep_col: str = "replica_id") -> "Dataset":
        from dabstract_spark.operators import split as sp

        return self._evolve(sp.sample_replicate(self._df, factor, rep_col))

    # ------------------------------------------------------------------ #
    # cross-validation (set_xval/get_xval_set, dataset.py:932-1130)
    # ------------------------------------------------------------------ #
    def set_xval(
        self,
        fn,
        key: str = "row_id",
        val_frac: float = 0.0,
        seed: int = 0,
        save_path: str | None = None,
        overwrite: bool = False,
        **params,
    ) -> "Dataset":
        """Compute a fold assignment over the non-test_only rows.

        ``fn``: builder name (operators/xval.py registry) or callable
        ``f(df, key=..., **params) -> (key, fold)``. Candidates restricted
        to test_only==0 (reference dataset.py:981-985); test_only rows are
        re-attached to every test fold by get_xval_set. ``save_path``
        persists the assignment as parquet (reference's pickle persist)."""
        from dabstract_spark.operators import xval as xv

        if isinstance(fn, str):
            fn = xv.resolve(fn)
        spark = self._df.sparkSession
        if save_path and not overwrite:
            try:
                assignment = spark.read.parquet(save_path)
                return self._evolve(self._df, xval=(assignment, key, val_frac, seed))
            except Exception:
                pass
        candidates = self._df.filter(F.col("test_only") == 0)
        import inspect

        # builders that model val membership themselves (random_split's
        # set_name contract) receive val_frac; fold builders leave the val
        # carve to get_xval_set
        if "val_frac" in inspect.signature(fn).parameters:
            params.setdefault("val_frac", val_frac)
        assignment = fn(candidates, key=key, seed=seed, **params)
        if "fold" not in assignment.columns and "set_name" not in assignment.columns:
            raise ValueError(
                "xval builder must return (key, fold) or (key, set_name); "
                f"got columns {assignment.columns}"
            )
        if save_path:
            assignment.write.mode("overwrite").parquet(save_path)
            assignment = spark.read.parquet(save_path)
        return self._evolve(self._df, xval=(assignment, key, val_frac, seed))

    def get_xval_set(
        self, set_name: str = "train", fold: int = 0, keys=None
    ) -> "Dataset":
        """Lazy (set, fold) subset view (reference dataset.py:1066-1130)."""
        from dabstract_spark.operators import xval as xv

        if self._xval is None:
            raise RuntimeError("call set_xval first")
        assignment, key, val_frac, seed = self._xval
        sub = xv.xval_sets(
            self._df, assignment, key, fold, set_name, val_frac=val_frac, seed=seed
        )
        out = self._evolve(sub)
        return out.unpack(keys) if keys else out

    # ------------------------------------------------------------------ #
    # materialization (prepare_feat, dataset.py:703-928; load_memory,
    # dataset.py:555-626)
    # ------------------------------------------------------------------ #
    def prepare_feat(
        self,
        key: str,
        fe_name: str,
        chain,
        new_key: str | None = None,
        feat_base_dir: str | None = None,
        overwrite: bool = False,
        partition_by: str | None = None,
        info: dict | None = None,
    ) -> "Dataset":
        """Materialize a processing chain over a column: compute → write
        partitioned parquet keyed by row_id → lazily re-read and re-attach.

        Reference parity (dataset.py:703-928) with two structural
        simplifications the relational model makes free:
        - no "pop diving" (dataset.py:757-769): features are keyed by
          row_id, so any select/split applied before OR after re-attaches
          through the join instead of replaying recorded ops;
        - one distributed write instead of the per-example .npy loop
          (dataset.py:843-863); skip-if-exists/overwrite is a _SUCCESS
          check on the parquet dir, and the chain spec persists as JSON
          next to it (chain-config persist, dataset.py:891-899).
        """
        import os

        from dabstract_spark.processing import ProcessingChain

        if ROW_ID not in self._df.columns:
            raise RuntimeError("prepare_feat requires row_id discipline on the dataset")
        if not isinstance(chain, ProcessingChain):
            chain = ProcessingChain().add(chain)
        base = feat_base_dir or os.environ.get(
            "SPARK_GRAFT_FEAT_DIR",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "feat"),
        )
        path = os.path.join(base, self.name, key, fe_name)
        spark = self._df.sparkSession
        done = os.path.exists(os.path.join(path, "_SUCCESS"))
        target = new_key or key
        if overwrite or not done:
            cinfo = dict(info or {})
            cinfo.setdefault("dtype", dict(self._df.dtypes).get(key))
            # name (not F.col): lets the chain compose its native
            # stages over the name in one parse (ProcessingChain._compose)
            feat = chain.expr(key, cinfo)
            cols = [F.col(ROW_ID), feat.alias("__feat")]
            writer_cols = [ROW_ID]
            if partition_by and partition_by in self._df.columns:
                cols.append(F.col(partition_by))
            out = self._df.select(*cols)
            w = out.write.mode("overwrite")
            if partition_by and partition_by in self._df.columns:
                w = w.partitionBy(partition_by)
            w.parquet(path)
            try:
                # NEXT TO the parquet dir — a stray .json inside it would
                # break the parquet re-read
                chain.save(path + "_chain_spec")
            except ValueError:
                pass  # chains with opaque callables aren't serializable
        feat_df = spark.read.parquet(path).select(ROW_ID, F.col("__feat").alias(target))
        merged = self._df.drop(target).join(feat_df, ROW_ID, "left")
        return self._evolve(merged)

    def load_memory(self, key: str | None = None, keep_structure: bool = False) -> "Dataset":
        """Materialize (cache) the dataset or one column's projection
        (reference dataset.py:555-626).

        ``keep_structure=True`` (the reference's nested-DictSeq branch,
        dataset.py:590-619, which re-wraps loaded leaves so the
        surrounding structure survives): materialize ``key``'s data while
        PRESERVING everything around it — the (possibly nested struct)
        column is computed once into a cached (row_id, key) table and
        joined back, every other column stays lazy, and the current
        active-key view is kept instead of collapsing onto ``key``."""
        if key is None:
            return self._evolve(self._df.cache())
        if keep_structure:
            # top-level columns only: a dotted path ('data.inner') would
            # make drop(key) a silent no-op and the join would append a
            # duplicate leaf-named column instead of re-wrapping the
            # struct — reject it loudly rather than corrupt the schema
            if key not in self._df.columns:
                raise ValueError(
                    f"load_memory(keep_structure=True) requires a top-level "
                    f"column; got {key!r} (available: {self._df.columns})"
                )
            proj = self._df.select(F.col(ROW_ID), F.col(key)).cache()
            merged = self._df.drop(key).join(proj, ROW_ID, "left")
            return self._evolve(merged)
        return self._evolve(self._df, active_keys=(key,))._evolve(self._df.cache())

    # ------------------------------------------------------------------ #
    # training-data-pipeline extensions (no reference analog): dedup /
    # clustering / balanced sampling at the facade, so a pipeline stays
    # one fluent plan from source to sample
    # ------------------------------------------------------------------ #
    def dedup(self, key: str, method: str = "exact", id_col: str = ROW_ID, **kw) -> "Dataset":
        """Drop duplicate rows by content of ``key``: 'exact'
        (normalized-hash groups), 'simhash' (near-dup fingerprint), or
        'minhash' (LSH clusters, one survivor per cluster)."""
        from dabstract_spark.operators import dedup as dd

        if method == "exact":
            return self._evolve(dd.exact_dedup(self._df, id_col, key))
        if method == "simhash":
            return self._evolve(dd.simhash_dedup(self._df, id_col, key, **kw))
        if method == "minhash":
            clusters = dd.minhash_dedup_clusters(self._df, id_col, key, **kw)
            survivors = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
            return self._evolve(self._df.join(survivors, id_col, "left_semi"))
        raise ValueError(f"unknown dedup method '{method}'")

    def dedup_clusters(self, key: str, id_col: str = ROW_ID, **kw):
        """(id, cluster_id) near-duplicate cluster assignment over
        ``key`` (MinHash/LSH candidate pairs + connected components)."""
        from dabstract_spark.operators import dedup as dd

        return dd.minhash_dedup_clusters(self._df, id_col, key, **kw)

    def dedup_against(
        self,
        seen: "Dataset | DataFrame",
        key: str,
        id_col: str = ROW_ID,
        use_bloom: bool = False,
        **kw,
    ) -> "Dataset":
        """Incremental ingest dedup: drop rows whose normalized ``key``
        content already exists in ``seen`` (dedup.dedup_against).
        ``use_bloom=True`` routes through the Bloom membership
        pre-filter (bloom.dedup_against_bloom — byte-identical output;
        at corpus scale only possible members reach the exact
        anti-join)."""
        seen_df = seen.full_df if isinstance(seen, Dataset) else seen
        if use_bloom:
            from dabstract_spark.operators.bloom import dedup_against_bloom

            return self._evolve(
                dedup_against_bloom(self._df, seen_df, id_col, key, **kw)
            )
        from dabstract_spark.operators import dedup as dd

        return self._evolve(dd.dedup_against(self._df, seen_df, id_col, key, **kw))

    def sample_per_group(self, group_key: str, n: int, seed: int = 0) -> "Dataset":
        """Balanced per-group subsample (at most n rows per group)."""
        from dabstract_spark.operators.select import sample_per_group

        return self._evolve(sample_per_group(self._df, group_key, n, seed, key=ROW_ID))

    def decontaminate(
        self, test: "Dataset | DataFrame", key: str, id_col: str = ROW_ID, **kw
    ) -> "Dataset":
        """Drop rows sharing a distinct k-shingle of ``key`` with the
        ``test`` set (n-gram decontamination; see dedup.decontaminate)."""
        from dabstract_spark.operators import dedup as dd

        test_df = test.full_df if isinstance(test, Dataset) else test
        return self._evolve(dd.decontaminate(self._df, test_df, id_col, key, **kw))

    def importance_sample(
        self, weight_ppm, rate_ppm: int = 1000000, seed: int = 0
    ) -> "Dataset":
        """Quality-weighted Bernoulli keep (exact-integer accept test;
        see select.importance_sample). Also reachable by name through
        ``add_select('importance_sample', ...)``."""
        from dabstract_spark.operators.select import importance_sample

        return self._evolve(
            importance_sample(self._df, weight_ppm, rate_ppm, key=ROW_ID, seed=seed)
        )

    def training_order(self, seed: int = 0, n_shards: int | None = None) -> "Dataset":
        """Attach a deterministic global training-order position (and
        optional round-robin shard) in a seed-reproducible md5 order
        (see select.training_order). Also reachable by name through
        ``add_select('training_order', ...)``."""
        from dabstract_spark.operators.select import training_order

        return self._evolve(
            training_order(self._df, ROW_ID, seed=seed, n_shards=n_shards)
        )

    def dedup_lines(self, key: str = "text") -> "Dataset":
        """Remove later repeats of identical lines within each document
        (first occurrence kept; see text.dedup_lines)."""
        from dabstract_spark.operators.text import dedup_lines

        return self._evolve(
            self._df.withColumn(key, F.array_join(dedup_lines(key), "\n"))
        )

    def source_overlap(self, group_key: str, text_key: str = "text", **kw):
        """Pairwise Jaccard-overlap estimates between groups via merged
        MinHash signatures (see dedup.source_overlap). Returns a
        DataFrame (a report, not a row transformation)."""
        from dabstract_spark.operators import dedup as dd

        return dd.source_overlap(self._df, group_key, ROW_ID, text_key, **kw)

    def snapshot_diff(self, other: "Dataset | DataFrame", key: str = "text"):
        """Row-level delta vs another snapshot of this dataset: one
        (row_id, status) row per key with status in added / removed /
        changed / unchanged (layout.snapshot_diff; self is OLD, other is
        NEW). Returns a DataFrame (a report, not a row
        transformation)."""
        from dabstract_spark.operators.layout import snapshot_diff

        other_df = other.full_df if isinstance(other, Dataset) else other
        return snapshot_diff(self._df, other_df, ROW_ID, F.md5(key))

    def shard_manifest(self, key: str = "text", n_shards: int = 64, seed: int = 0):
        """Deterministic shard assignment with order-independent
        per-shard checksums (layout.shard_manifest) — the materialization
        reproducibility audit. Returns a DataFrame report."""
        from dabstract_spark.operators.layout import shard_manifest

        return shard_manifest(self._df, ROW_ID, F.md5(key), n_shards, seed)

    def fuzzy_link(self, other: "Dataset | DataFrame", key: str = "text", **kw):
        """Record linkage against another table on a fuzzy text key
        (dedup.fuzzy_join): returns (row_id, other_row_id, dist) for
        candidate matches within the edit-distance bound. Returns a
        DataFrame report."""
        from dabstract_spark.operators.dedup import fuzzy_join

        other_df = other.full_df if isinstance(other, Dataset) else other
        right_id = "other_" + ROW_ID
        return fuzzy_join(
            self._df,
            other_df.withColumnRenamed(ROW_ID, right_id),
            ROW_ID,
            right_id,
            key,
            key,
            **kw,
        )

    def add_text_stats(self, key: str = "text") -> "Dataset":
        """Attach the full text-analysis column set (token counts,
        ratios, quality, lang-id, fingerprint) with tokens staged once."""
        from dabstract_spark.operators.text import add_text_stats

        return self._evolve(add_text_stats(self._df, key))

    def curriculum_order(
        self, stage: str, seed: int = 0, n_shards: int | None = None
    ) -> "Dataset":
        """Attach a stage-major curriculum position: all rows of stage s
        precede stage s+1, md5-shuffled within a stage (see
        select.curriculum_order)."""
        from dabstract_spark.operators.select import curriculum_order

        return self._evolve(
            curriculum_order(self._df, stage, ROW_ID, seed=seed, n_shards=n_shards)
        )

    def temperature_mixture(self, source: str, **kw):
        """Temperature-scaled per-source sampling weights (XLM-R rule,
        w ∝ sqrt(n); see select.temperature_mixture). Returns a
        DataFrame report, one row per source."""
        from dabstract_spark.operators.select import temperature_mixture

        return temperature_mixture(self._df, source, **kw)

    def gopher_rules(self, key: str = "text", **kw):
        """Per-document Gopher/MassiveText quality-rule verdicts (Rae
        2021 A1.1; see text.gopher_rules). Returns a DataFrame report
        keyed by row_id."""
        from dabstract_spark.operators.text import gopher_rules

        return gopher_rules(self._df, ROW_ID, key, **kw)

    def bootstrap_means(self, value_col: str, n_boot: int = 32, seed: int = 0):
        """Poisson-bootstrap replicate means of an integer metric column
        (see select.bootstrap_means) — error bars for corpus statistics.
        Returns a DataFrame report (b, n_eff, mean_ppm)."""
        from dabstract_spark.operators.select import bootstrap_means

        return bootstrap_means(self._df, ROW_ID, value_col, n_boot=n_boot, seed=seed)

    def collocations(self, key: str = "text", **kw):
        """Top adjacent-token collocations by exact-integer lift (see
        text.collocations). Returns a DataFrame report."""
        from dabstract_spark.operators.text import collocations

        return collocations(self._df, ROW_ID, key, **kw)

    def dsir_select(self, target: "Dataset", k: int, key: str = "text", **kw):
        """DSIR importance selection (Xie 2023; see text.dsir_select):
        keep this dataset's ``k`` rows whose hashed-n-gram distribution
        best matches ``target``'s. Returns a DataFrame report
        (rank, row_id, n_feats, score_units)."""
        from dabstract_spark.operators.text import dsir_logratio_table, dsir_select

        nb = kw.pop("n_buckets", 4096)
        seed = kw.pop("seed", 0)  # one seed for BOTH sides: the score
        # join is only meaningful when table and scorer bucket alike
        table = dsir_logratio_table(
            target._df, self._df, key, n_buckets=nb, seed=seed, **kw
        )
        return dsir_select(self._df, table, ROW_ID, key, k=k, n_buckets=nb, seed=seed)

    def grouped_rank(self, group_key: str, score_col: str, **kw):
        """Exact per-group rank/percentile of an integer ppm score with
        no group-sized window (see select.grouped_rank_ppm) — CCNet-style
        per-source quality calibration. Returns a DataFrame report."""
        from dabstract_spark.operators.select import grouped_rank_ppm

        return grouped_rank_ppm(self._df, group_key, score_col, ROW_ID, **kw)

    def grouped_order_stats(self, group_key: str, value_col: str, **kw):
        """Per-row rank / group size (+ optional exact ntile) over an
        arbitrary numeric key with no group-sized window (see
        select.grouped_order_stats) — the full-output rank family
        (percent_rank/cume_dist/ntile derive arithmetically)."""
        from dabstract_spark.operators.select import grouped_order_stats

        return grouped_order_stats(self._df, group_key, value_col, ROW_ID, **kw)

    def ngram_dup_stats(self, key: str = "text", k: int = 8):
        """Per-row duplicated-k-gram exposure (Lee 2022 memorization
        audit; see dedup.ngram_dup_stats). Returns a DataFrame report
        keyed by row_id."""
        from dabstract_spark.operators.dedup import ngram_dup_stats

        return ngram_dup_stats(self._df, ROW_ID, key, k=k)

    def length_bucket_batches(self, token_col: str, batch_tokens: int = 4096, seed: int = 0):
        """Padding-efficient loader layout (see
        packing.length_bucket_batches). Returns a DataFrame manifest
        keyed by row_id."""
        from dabstract_spark.operators.packing import length_bucket_batches

        return length_bucket_batches(
            self._df, ROW_ID, token_col, batch_tokens=batch_tokens, seed=seed
        )

    def kcenter_select(self, k: int = 8, vec_col: str = "embedding"):
        """Greedy k-center diversity coreset over an embedding column
        (see similarity.kcenter_select). Returns the k-row selection."""
        from dabstract_spark.operators.similarity import kcenter_select

        return kcenter_select(self._df, k=k, id_col=ROW_ID, vec_col=vec_col)

    def charclass_profile(self, key: str = "text"):
        """Per-row character-class ppm profile (see
        textstats.charclass_profile). Returns a report keyed by row_id."""
        from dabstract_spark.operators.textstats import charclass_profile

        return charclass_profile(self._df, ROW_ID, key)

    def ngram_diversity(self, group_key: str, key: str = "text", n: int = 2):
        """Per-group n-gram type-token ratio (see
        textstats.ngram_diversity)."""
        from dabstract_spark.operators.textstats import ngram_diversity

        return ngram_diversity(self._df, group_key, key, n=n)

    def keyness_terms(self, group_key: str, key: str = "text", **kw):
        """Per-group salient terms vs the rest of the corpus (see
        textstats.keyness_terms)."""
        from dabstract_spark.operators.textstats import keyness_terms

        return keyness_terms(self._df, group_key, key, **kw)

    def vocab_oov(self, group_key: str, key: str = "text", k: int = 1000):
        """Per-group OOV rate against the corpus' own top-k vocabulary
        (see textstats.vocab_oov)."""
        from dabstract_spark.operators.textstats import vocab_oov

        return vocab_oov(self._df, group_key, key, k=k)

    def term_dispersion(self, group_key: str, key: str = "text", **kw):
        """Most group-concentrated terms by Gries' DP in exact ppm (see
        textstats.term_dispersion)."""
        from dabstract_spark.operators.textstats import term_dispersion

        return term_dispersion(self._df, group_key, key, **kw)

    def histogram_drift(self, other: "Dataset", bucket_key: str):
        """Distribution-drift card of this dataset vs ``other`` over a
        shared bucket column (see textstats.histogram_drift)."""
        from dabstract_spark.operators.textstats import histogram_drift

        return histogram_drift(self._df, other._df, bucket_key)

    def uniqueness_audit(self, quasi_keys: list[str]):
        """k-anonymity re-identification card over a quasi-identifier
        combination (see textstats.uniqueness_audit)."""
        from dabstract_spark.operators.textstats import uniqueness_audit

        return uniqueness_audit(self._df, quasi_keys)

    def balance_card(self, group_keys: list[str] | str):
        """One-row mixture-concentration card (Gini / entropy /
        top-share over component sizes; see textstats.balance_card)."""
        from dabstract_spark.operators.textstats import balance_card

        if isinstance(group_keys, str):
            group_keys = [group_keys]
        return balance_card(self._df, list(group_keys))

    def group_term_cosine(self, group_key: str, key: str = "text", **kw):
        """Pairwise cosine between per-group term-frequency vectors —
        the mixture-redundancy matrix (see
        textstats.group_term_cosine)."""
        from dabstract_spark.operators.textstats import group_term_cosine

        return group_term_cosine(self._df, group_key, key, **kw)

    def agreement_card(self, gold_key: str, pred_key: str):
        """Cohen's kappa card between two label columns (see
        textstats.agreement_card)."""
        from dabstract_spark.operators.textstats import agreement_card

        return agreement_card(self._df, gold_key, pred_key)

    def zipf_card(self, key: str = "text", top_n: int = 100):
        """Rank-frequency power-law fit over the top vocabulary (see
        textstats.zipf_card)."""
        from dabstract_spark.operators.textstats import zipf_card

        return zipf_card(self._df, key, top_n=top_n)

    def mad_outliers(self, group_key: str, value_col: str, k: int = 3, **kw):
        """Per-group robust median/MAD outlier card with no group-sized
        window (see select.grouped_mad_outliers)."""
        from dabstract_spark.operators.select import grouped_mad_outliers

        return grouped_mad_outliers(self._df, group_key, value_col, k=k, **kw)

    def term_burstiness(self, key: str = "text", **kw):
        """Most bursty terms by the Church-Gale variance-to-mean ratio
        (see textstats.term_burstiness)."""
        from dabstract_spark.operators.textstats import term_burstiness

        return term_burstiness(self._df, ROW_ID, key, **kw)

    def cluster_purity(self, cluster_key: str, label_key: str):
        """Purity + NMI clustering-quality card against gold labels
        (see textstats.cluster_purity)."""
        from dabstract_spark.operators.textstats import cluster_purity

        return cluster_purity(self._df, cluster_key, label_key)

    def winsorize(self, group_key: str, value_col: str, k: int = 3, **kw):
        """Per-row robust clipping to the group's median ± k·MAD band
        (see select.winsorize_by_mad)."""
        from dabstract_spark.operators.select import winsorize_by_mad

        return winsorize_by_mad(self._df, group_key, value_col, k=k, **kw)

    def mutual_info(self, key_a: str, key_b: str):
        """Mutual-information card between two categorical columns (see
        textstats.mutual_info_card)."""
        from dabstract_spark.operators.textstats import mutual_info_card

        return mutual_info_card(self._df, key_a, key_b)

    def centroid_shift(self, other: "Dataset", label_key: str, vec_col: str = "embedding"):
        """Per-label embedding-centroid drift of this dataset vs
        ``other`` (see similarity.centroid_shift)."""
        from dabstract_spark.operators.similarity import centroid_shift

        return centroid_shift(self._df, other._df, label_key, vec_col)

    def semantic_dedup(
        self,
        n_centroids: int = 8,
        threshold: float = 0.95,
        id_key: str = "vec_id",
        vec_key: str = "embedding",
        impl: str = "gemm",
    ):
        """SemDeDup-style embedding-cluster dedup: IVF-cluster the
        embedding space, then keep one representative per within-cluster
        cosine-above-threshold near-set (see similarity.semantic_dedup;
        cluster bucketing is what bounds the pair fan-out)."""
        from dabstract_spark.operators.similarity import (
            ivf_centroids,
            semantic_dedup,
        )

        cents = ivf_centroids(self._df, n_centroids, id_key, vec_key)
        return semantic_dedup(
            self._df, cents, threshold, id_key, vec_key, impl=impl
        )

    def source_dup_matrix(
        self, group_key: str, text_key: str = "text", digest=None
    ):
        """Cross-group exact-duplicate / key-overlap matrix (see
        dedup.source_dup_matrix). ``text_key`` names the text COLUMN to
        digest; ``digest`` optionally passes a custom digest Column
        (the operator's ``key=`` kwarg), e.g. a pre-computed hash."""
        from dabstract_spark.operators.dedup import source_dup_matrix

        return source_dup_matrix(self._df, text_key, group_key, key=digest)

    def budget_allocation(
        self, group_key: str, token_col, total_budget: int, max_repeat: int = 1
    ):
        """Water-filling split of one global token budget across groups
        (see planning.budget_allocation)."""
        from dabstract_spark.operators.planning import budget_allocation

        return budget_allocation(
            self._df, group_key, token_col, total_budget, max_repeat=max_repeat
        )

    def proportional_allocation(self, group_key: str, n_total: int, **kw):
        """Largest-remainder apportionment of exactly ``n_total`` rows
        across groups proportional to corpus share (see
        planning.proportional_allocation)."""
        from dabstract_spark.operators.planning import proportional_allocation

        return proportional_allocation(self._df, group_key, n_total, **kw)

    def weighted_sample(self, n: int, weight_col, seed: int = 0) -> "Dataset":
        """Exactly-n weighted sample without replacement (A-ES
        exponential race; see select.weighted_sample_n) — rows kept by
        row identity, proportional to weight."""
        from dabstract_spark.operators.select import weighted_sample_n

        picked = weighted_sample_n(self._df, n, weight_col, seed=seed, key=ROW_ID)
        return self._evolve(
            self._df.join(picked.select(ROW_ID), ROW_ID, "left_semi")
        )

    def stratified_sample(self, group_key: str, n_total: int, seed: int = 0) -> "Dataset":
        """Mixture-preserving eval split: Hamilton-apportioned exact
        quotas per group, drawn as each group's md5-smallest members
        (see select.stratified_sample)."""
        from dabstract_spark.operators.select import stratified_sample

        picked = stratified_sample(self._df, group_key, n_total, seed=seed, key=ROW_ID)
        return self._evolve(
            self._df.join(picked.select(ROW_ID), ROW_ID, "left_semi")
        )

    def hll_distinct(self, key: str, group_key: str | None = None):
        """Approximate distinct count card per group from the
        deterministic md5 HLL (see sketches.hll_distinct_card) —
        re-aggregatable registers, value-oracled estimates."""
        from dabstract_spark.operators.sketches import hll_distinct_card

        return hll_distinct_card(
            self._df, key, (group_key,) if group_key else ()
        )

    def kmv_overlap(self, key: str, group_key: str, k: int = 256):
        """Pairwise distinct-overlap card between groups via KMV/theta
        sketches (see sketches.kmv_intersect_card) — the set
        intersection HLL cannot express, without an exact distinct
        shuffle."""
        from dabstract_spark.operators.sketches import kmv_intersect_card, kmv_partials

        return kmv_intersect_card(
            kmv_partials(self._df, key, (group_key,), k=k), group_key, k=k
        )

    def value_percentiles(
        self,
        value_micro: str,
        group_key: str | None = None,
        percentiles: tuple[int, ...] = (50, 95, 99),
        width_micro: int = 4_000_000,
        bins: int = 128,
    ):
        """Histogram-sketch percentile card over a micro-unit value
        column (see sketches.hist_sketch/hist_quantiles) — mergeable
        equi-width partials, one-bin-width error bound."""
        from dabstract_spark.operators.sketches import hist_quantiles, hist_sketch

        groups = (group_key,) if group_key else ()
        sk = hist_sketch(
            self._df.filter(F.col(value_micro).isNotNull()),
            value_micro,
            groups,
            width_micro,
            bins,
        )
        return hist_quantiles(sk, percentiles, groups, width_micro)

    def ivf_pq_topk(self, queries: "Dataset | DataFrame", k: int = 10, **kw):
        """Product-quantized approximate top-k neighbors for a query
        set (see similarity.ivf_pq_topk) — integer IVF-PQ with ADC
        scoring over probed inverted lists."""
        from dabstract_spark.operators.similarity import ivf_pq_topk

        q = queries.full_df if isinstance(queries, Dataset) else queries
        return ivf_pq_topk(self._df, q, k=k, **kw)

    def preflight(self, keys: list[str] | str, n_partitions: int = 32, **kw):
        """Pre-flight skew advisory for a prospective join/groupBy on
        ``keys`` (see skew.skew_advice): profiles the named key columns
        over the ACTIVE projection and returns one advisory row per hot
        key — ``broadcast`` (distinct-key table is small: join against
        it replicated, no shuffle of the big side), ``salt(k)`` (the key
        overflows a reducer's fair share of ``n_partitions``: shard it
        across exactly k sub-keys), or ``ok`` — so a pipeline author
        gets the mitigation verdict BEFORE launching the 100 TB job.
        Advice is exact integer arithmetic on one map-side-combinable
        count per key; nothing here scans more than the profiler does."""
        from dabstract_spark.operators.skew import skew_advice

        if isinstance(keys, str):
            keys = [keys]
        return skew_advice(self.df, list(keys), n_partitions=n_partitions, **kw)

    # ------------------------------------------------------------------ #
    # driver-side access (DataAbstract, abstract.py:252-472: multi-index
    # fetch / np-stacking / prefetching generator — Spark-native forms)
    # ------------------------------------------------------------------ #
    def to_pandas(self):
        """Arrow-batched collect of the active projection (the reference's
        DataAbstract[:] auto-stacking)."""
        return self.df.toPandas()

    def iter_rows(self, prefetch: bool = True):
        """Row generator with partition prefetch — the reference's
        parallel_op bounded-buffer iteration (abstract.py:148-249)."""
        return self.df.toLocalIterator(prefetchPartitions=prefetch)
