"""SparkSession bootstrap tuned for both local testing and cluster scale.

Local mode is a single JVM; on a real cluster the same settings hold except
memory sizing. AQE is always on so joins/aggs re-plan at runtime (skew
splits, broadcast conversion, partition coalescing).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def scratch_base() -> str | None:
    """Fast local scratch for ephemeral sinks/checkpoints/shuffle dirs.

    Guide §6: scratch I/O (stream checkpoints' tiny commit files, temp
    parquet sinks, shuffle spill) belongs on the fastest local storage
    available — on a cluster that is the executors' NVMe; on this box
    ``/tmp`` is a virtio disk while ``/dev/shm`` is an in-memory tmpfs,
    so every micro-batch commit was paying real block-device latency.
    Parameterized: ``SPARK_GRAFT_SCRATCH`` overrides (a cluster points
    it at its local-SSD mount); unset falls back to /dev/shm when
    present, else the system default tempdir. Returns None when only
    the system default exists (callers then use plain tempfile paths).
    """
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    if os.path.isdir("/dev/shm"):
        base = "/dev/shm/sparkdab_scratch"
        try:
            os.makedirs(base, exist_ok=True)
            return base
        except OSError:
            return None
    return None


def scratch_dir(prefix: str) -> str:
    """mkdtemp on the fast scratch filesystem (see ``scratch_base``)."""
    base = scratch_base()
    if base:
        return tempfile.mkdtemp(prefix=prefix, dir=base)
    return tempfile.mkdtemp(prefix=prefix)


def get_spark(
    app_name: str = "dabstract_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-aware defaults.

    - ``spark.sql.shuffle.partitions`` defaults to the local core count
      (env ``SPARK_GRAFT_CPUS``) for local runs; a cluster deployment
      overrides via ``extra_conf`` or relies on AQE coalescing.
    - Arrow is enabled so every pandas-UDF boundary is vectorized.
    - Session timezone pinned to UTC so timestamps compare bit-exactly
      against external oracles (DuckDB is UTC-naive).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fixture events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert explicitly (load_table) — Spark has no nanos timestamp.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark 4 wraps every Column/DataFrame API call with error-
        # context capture (errors/utils.py _with_origin): a Python stack
        # walk plus ~4 py4j round trips (conf.get, JVM getattr,
        # PySparkCurrentOrigin.set/clear) PER OPERATION, purely to
        # decorate error messages with the user call site. On this
        # host's ~0.5-6 ms IPC latency that is the single largest
        # driver-side cost in plan construction — measured 1126 -> 116
        # round trips for the same 100-op Column chain. Results are
        # byte-identical; only failure messages lose the "called from
        # file:line" hint.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # shuffle files / spill on the fastest local storage (guide §6);
    # no-op when the session already exists (conf binds at JVM start)
    _scratch = scratch_base()
    if _scratch:
        builder = builder.config("spark.local.dir", _scratch)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Every engine window carries an explicit constant partition key
    # (enforced by tests/test_plan_audit.py: no bare Window.orderBy in
    # the source), but Spark 4's EliminateWindowPartitions (SPARK-46941)
    # folds constant partition specs back to empty, so WindowExec's
    # "No Partition Defined" warning re-fires at runtime for the
    # bounded tiny-table windows no matter what the source declares.
    # The warning channel therefore can't distinguish a 256-row offset
    # table from a data-scale regression — the source-level audit is
    # the real guard — so silence this one logger. The suppression is
    # session-wide: ad-hoc user plans on the same session lose the
    # warning too.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments keep the warning; harmless
    return spark


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scan-layout cache: the fixture tables are single-file, SINGLE ROW
# GROUP parquet — and the row group is Spark's split unit, so every scan
# of the biggest table runs as one task no matter how many cores exist.
# The first touch of such a file (at least ``_RELAYOUT_MIN_BYTES`` on
# disk) splits it into n = size / ``_RELAYOUT_CHUNK_BYTES`` contiguous
# row slices, 2 to 16, one parquet file each, in a scratch dir; every
# later read scans them in parallel. The split runs on the driver with
# pyarrow — one decode, n concurrent file writes, no Spark job — so it
# needs no session and is keyed by (file, mtime) alone: a restarted
# session in the same process reuses the chunks. This is ingest-time
# re-layout, the same thing a real deployment's auto-optimizer does to
# small-file or monolithic drops.
_RELAYOUT: dict = {}
_RELAYOUT_MIN_BYTES = 1_500_000
_RELAYOUT_CHUNK_BYTES = 1_000_000


def _int96_as_utc_micros(table, parquet_schema):
    """Cast the columns a parquet file stores as INT96 (Spark's default
    timestamp encoding, read by pyarrow as zone-less micros) to
    ``timestamp[us, tz=UTC]``, which parquet writes as INT64 micros
    adjusted to UTC — the type Spark reads back as its TimestampType.
    A plain rewrite would store them as zone-less INT64 nanos, which
    Spark refuses to read as the row metadata's timestamp. Arrow's
    leaves come in the file's leaf-column order, so leaf i of the
    Arrow type tree is parquet column i."""
    import pyarrow as pa

    int96 = {
        i
        for i in range(len(parquet_schema))
        if parquet_schema.column(i).physical_type == "INT96"
    }
    if not int96:
        return table
    leaf = iter(range(len(parquet_schema)))

    def cast(t):
        if pa.types.is_struct(t):
            return pa.struct([f.with_type(cast(f.type)) for f in t])
        if pa.types.is_map(t):
            key, item = t.key_field, t.item_field
            return pa.map_(key.with_type(cast(key.type)), item.with_type(cast(item.type)))
        if pa.types.is_list(t):
            return pa.list_(t.value_field.with_type(cast(t.value_type)))
        return pa.timestamp("us", tz="UTC") if next(leaf) in int96 else t

    fields = [f.with_type(cast(f.type)) for f in table.schema]
    return table.cast(pa.schema(fields, metadata=table.schema.metadata))


def _parallel_layout(path: str) -> str:
    """Directory of scan chunks for ``path`` (or ``path`` itself when
    the file is too small to split or unreadable); see ``_RELAYOUT``."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    try:
        st = os.stat(path)
    except OSError:
        return path
    if st.st_size < _RELAYOUT_MIN_BYTES:
        return path
    key = (path, st.st_mtime_ns)
    cached = _RELAYOUT.get(key)
    if cached is None:
        n = max(2, min(16, st.st_size // _RELAYOUT_CHUNK_BYTES))
        source = pq.ParquetFile(path, coerce_int96_timestamp_unit="us")
        table = _int96_as_utc_micros(source.read(), source.schema)
        step = -(-table.num_rows // n)
        cached = scratch_dir("sparkdab_layout_")

        def write(i):
            pq.write_table(table.slice(i * step, step), f"{cached}/part-{i:05d}.parquet")

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        with ThreadPoolExecutor(min(n, cpus)) as pool:
            list(pool.map(write, range(n)))  # list() re-raises a failed write
        _RELAYOUT[key] = cached
    return cached


# Hot-table cache: the classic warehouse split — SMALL hot tables
# (dimensions, the document/embedding working set) live in the block
# cache and skip parquet decode on every re-read, while LARGE fact
# tables keep streaming from parquet so predicate pushdown / column
# pruning stay in play (and stay auditable: an InMemoryRelation has no
# PushedFilters). DuckDB gets the same effect implicitly from its
# buffer pool; `.persist()` is Spark's equivalent, applied once per
# (session, file, mtime). The threshold is the on-disk size in bytes
# (``_CACHE_MAX_BYTES``); at cluster scale this is the "broadcast-able
# dims stay resident, facts scan" memory budget, sized per executor.
_TABLE_CACHE: dict = {}
_PLAN_MEMO: dict = {}
_NANOS_CONF_SET: set = set()
_CACHE_MAX_BYTES = 2_000_000


def table_cache_disabled():
    """Context manager: build plans as if every table were above the
    hot-cache budget (i.e. the FACT-table path — straight parquet scans).

    The plan audits use this: predicate-pushdown assertions are about
    what happens when a table genuinely scans parquet; at smoke scale
    every fixture is small enough to be cached, which would replace the
    scan under audit with an InMemoryRelation and test nothing.

    Existing cache entries are unpersisted on entry — Spark's
    CacheManager substitutes a persisted plan into ANY later
    logically-matching query, so merely skipping ``load_table``'s
    persist would not stop the substitution. Entries repopulate lazily
    after exit."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        global _CACHE_MAX_BYTES
        old = _CACHE_MAX_BYTES
        _CACHE_MAX_BYTES = -1
        for df in _TABLE_CACHE.values():
            try:
                df.unpersist()
            except Exception:
                pass  # entry from an already-stopped session
        _TABLE_CACHE.clear()
        try:
            yield
        finally:
            _CACHE_MAX_BYTES = old

    return _cm()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one fixture table, normalizing nano-timestamps to Spark
    TimestampType (microseconds, truncated like DuckDB does on read).

    Sets the nanos-as-long conf on the *caller's* session — the driver
    runs queries with its own SparkSession, not ours."""
    from pyspark.sql import functions as F

    if id(spark) not in _NANOS_CONF_SET:
        # one py4j round trip per session, not per table load
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # drop per-Column-op error-context capture on the CALLER's
        # session too (see get_spark): the driver runs queries with its
        # own SparkSession, and pyspark caches this flag at first
        # decorated call — load_table is the first thing every query
        # does, so setting it here lands before plan construction.
        try:
            spark.conf.set("spark.python.sql.dataFrameDebugging.enabled", "false")
        except Exception:
            pass  # older/remote sessions without the conf: keep default
        _NANOS_CONF_SET.add(id(spark))
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        size, key = st.st_size, (id(spark), path, st.st_mtime_ns)
    except OSError:
        size, key = None, None
    cacheable = size is not None and size <= _CACHE_MAX_BYTES
    if cacheable:
        hit = _TABLE_CACHE.get(key)
        if hit is not None:
            return hit
    elif key is not None:
        # plan-only memo for big (fact) tables: reuse the reader's
        # DataFrame OBJECT so repeated loads skip the reader/schema
        # round trips. No data is cached — every action on a derived
        # frame still scans parquet (DataFrames are immutable, and an
        # unpersisted plan holds no rows), so pushdown/pruning audits
        # and bench cold-read semantics are untouched.
        hit = _PLAN_MEMO.get(key)
        if hit is not None:
            return hit
    df = spark.read.parquet(_parallel_layout(path))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer div — float division loses precision on int64 nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if cacheable:
        # single-file fixtures are one row group = ONE cached partition,
        # which serializes every CPU-heavy consumer (tokenize/md5 over
        # documents) onto one core. Spread the cached working set ~32 KB
        # per partition up to the core count — a one-time shuffle at
        # cache fill; tiny dims stay single-partition.
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        n = max(1, min(cpus, size // 32768))
        if n > 1:
            df = df.repartition(n)
        df = df.persist()
        _TABLE_CACHE[key] = df
    elif key is not None:
        _PLAN_MEMO[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> dict:
    """Load the fixture parquet tables from an sf directory as DataFrames."""
    return {t: load_table(spark, sf_dir, t) for t in tables}


def register_views(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> None:
    """Register the fixture tables as temp views for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir, tables).items():
        df.createOrReplaceTempView(name)
