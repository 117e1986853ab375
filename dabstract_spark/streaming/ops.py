"""Streaming event operators (SURVEY §2.12 extension; no reference
analog — pure Spark Structured Streaming).

Scale notes: every stateful op carries a watermark so state is bounded
(late data beyond the watermark is dropped — the documented trade vs the
batch forms, which see everything). Aggregations shuffle on their group
keys exactly like the batch plans; ``availableNow`` triggers process a
backlog with the same bounded-state guarantees.
"""

from __future__ import annotations

import hashlib
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

# schema-probe results per (session, path): file sources need an explicit
# schema, and re-probing with a batch read costs ~1 s per streaming query
_SCHEMA_CACHE: dict = {}


def stream_events(
    spark: SparkSession,
    path: str,
    ts_col: str = "ts",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over an events parquet path. The schema is probed with
    a one-off batch read (file sources require an explicit schema), and
    nano-second int64 timestamps are normalized exactly like
    session.load_table (integer div — float division loses precision)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cache_key = (id(spark), path)
    schema = _SCHEMA_CACHE.get(cache_key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[cache_key] = schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # the file-stream source needs a DIRECTORY basePath; a single-file
    # fixture streams via its parent dir + a name filter
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    for field in schema.fields:
        if field.name == ts_col and field.dataType.simpleString() == "bigint":
            df = df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
        elif field.name == ts_col and field.dataType.simpleString() == "timestamp_ntz":
            # withWatermark requires TIMESTAMP; naive parquet timestamps
            # load as NTZ. The cast reinterprets the wall-clock in the
            # (UTC) session zone — value-preserving for event-time math.
            df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def tumbling_agg_stream(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Streaming twin of events.tumbling_agg: watermarked tumbling-window
    aggregate. State per (window, group) is dropped once the watermark
    passes the window end."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, width).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events", "sum_value")
    )


def sliding_agg_stream(
    events: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Streaming twin of events.sliding_agg: watermarked overlapping
    windows (width/slide open aggregates per event; state bounded by the
    watermark)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, width, slide).alias("w"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events", "sum_value")
    )


def session_agg_stream(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization via the native ``session_window`` (gap
    semantics identical to the batch gaps-and-islands form: a session
    extends while consecutive events are within the gap). Emits one row
    per closed session with the same stats as events.session_stats
    (session identity is the window itself rather than an ordinal id —
    the streaming-native formulation)."""
    from dabstract_spark.operators.events import _epoch_us_sql

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(ts_col, f"{gap_minutes} minutes").alias("sw"),
            user_col,
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # epoch micros of TIMESTAMP or TIMESTAMP_NTZ input (events._epoch_us)
            F.expr(
                f"(max({_epoch_us_sql(ts_col)}) - min({_epoch_us_sql(ts_col)}))"
                " div 1000000"
            ).alias("duration_sec"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(user_col, "n_events", "duration_sec", "sum_value")
    )


def latest_dedup_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup: first occurrence per key within the watermark
    (``dropDuplicatesWithinWatermark``). NB: streaming keeps the FIRST
    arrival while the batch latest_event_dedup keeps the LATEST — the
    inherent difference between online and offline dedup; use event_id
    keys (exactly-once delivery) where first==latest."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stateful_sessionizer(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState``
    (SURVEY §2.12's custom-stateful path): per-user session tracking
    where each user's open session lives in group state across
    micro-batches; a session CLOSES (and is emitted) when a later event
    arrives more than ``gap_minutes`` after it.

    Semantics vs the declarative twins: session_agg_stream/session_window
    only emit after the watermark passes; this operator emits a closed
    session the moment the closing event is seen, and the still-open
    session per user remains in state (never emitted) — the exact
    trade a hand-written stateful operator buys.

    Arrow-batched: state is a compact numeric tuple, per-group data
    arrives as pandas frames, no row-at-a-time Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = (
        f"{user_col} long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = "start long, end long, n long, s double, sn long"

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        if state.exists:
            start, end, n, s, sn = state.get
        else:
            start = end = None
            n, s, sn = 0, 0.0, 0
        frames = list(pdfs)
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        pdf = pdf.sort_values(ts_col)
        ts = pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64") // 1000
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        closed = []
        if len(ts):
            # vectorized gaps-and-islands: the only Python loop is over
            # SEGMENTS (sessions in this batch), never rows.
            # SQL SUM semantics for NULL values: NaNs contribute 0 to
            # the cumsum (a raw np.cumsum would poison every later
            # segment) and a non-null counter decides sum-vs-NULL — an
            # all-NULL session reads NULL, exactly like SUM(value)
            notna = ~np.isnan(vals)
            brk = np.nonzero(np.diff(ts) > gap_us)[0]
            seg_a = np.concatenate(([0], brk + 1))
            seg_b = np.concatenate((brk, [len(ts) - 1]))
            cum = np.concatenate(([0.0], np.cumsum(np.where(notna, vals, 0.0))))
            cumc = np.concatenate(([0], np.cumsum(notna.astype(np.int64))))
            for a, b in zip(seg_a, seg_b):
                t0, t1 = int(ts[a]), int(ts[b])
                cnt, tot = int(b - a + 1), float(cum[b + 1] - cum[a])
                nn = int(cumc[b + 1] - cumc[a])
                if start is not None and t0 - end <= gap_us:
                    # first segment continues the open session
                    end, n, s, sn = t1, n + cnt, s + tot, sn + nn
                else:
                    if start is not None:
                        closed.append(
                            (key[0], start, end, n, s if sn else None)
                        )
                    start, end, n, s, sn = t0, t1, cnt, tot, nn
        if start is not None:
            state.update((int(start), int(end), int(n), float(s), int(sn)))
        out = pd.DataFrame(
            closed, columns=[user_col, "session_start", "session_end", "n_events", "sum_value"]
        )
        for c in ("session_start", "session_end"):
            out[c] = pd.to_datetime(out[c], unit="us")
        yield out

    return events.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _drain(spark, start_query, timeout_sec: int, drain_partitions: int, label: str):
    """Run ONE bounded availableNow drain with right-sized shuffle
    partitions — the scaffold every drain-style op here shares (set
    conf, start, await with a timeout guard, restore conf).

    ``drain_partitions`` right-sizes the state-store count for the
    bounded drain: every stateful operator spins one state store PER
    shuffle partition PER micro-batch, pure overhead on a fixture-sized
    backlog. The conf binds at query start, so it is set for the drain
    and restored right after (``core.conf_override``: a key that was
    unset before the drain is unset after it). awaitTermination returns
    False on timeout — reading a sink then would yield a
    nondeterministic partial result (or a path-not-found if no
    micro-batch committed); stop and raise instead. Returns the
    terminated StreamingQuery so callers can inspect its progress."""
    from dabstract_spark.core import conf_override

    drain_conf = {"spark.sql.shuffle.partitions": str(drain_partitions)}
    with conf_override(spark, drain_conf):
        q = start_query()
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(f"{label} drain exceeded {timeout_sec}s")
        return q


def _drain_foreach_batch(
    src: DataFrame,
    sink_fn,
    checkpoint: str,
    out_path: str,
    timeout_sec: int,
    drain_partitions: int,
    label: str,
) -> DataFrame:
    """Checkpointed foreachBatch drain through ``sink_fn``, returning
    the re-read parquet sink — the shared shape of every incremental
    sketch/view-maintenance op."""
    spark = src.sparkSession
    _drain(
        spark,
        lambda: (
            src.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        ),
        timeout_sec,
        drain_partitions,
        label,
    )
    # mergeSchema: a sink directory UPGRADED mid-life (legacy files
    # without (run_id, batch_id) markers + marked files) must surface
    # BOTH schemas — default inference takes an arbitrary footer, and a
    # legacy pick would hide the marker columns and silently disable
    # replay dedup downstream
    return spark.read.option("mergeSchema", "true").parquet(out_path)


def run_to_memory(
    stream_df: DataFrame,
    name: str | None = None,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
    require_single_batch: bool = False,
) -> DataFrame:
    """Drain a (bounded) stream with trigger=availableNow into a memory
    sink and return the result as a batch DataFrame — the test harness
    for stream==batch metamorphic checks.

    ``drain_partitions``: see ``_drain`` (a long-lived production
    stream sizes partitions to its rate instead).

    ``require_single_batch=True`` ENFORCES that all input arrived in
    one micro-batch (recentProgress shows exactly one batch with input
    rows). Callers whose batch-SQL oracle depends on per-batch ordering
    semantics — e.g. the stateful sessionizer sorts events WITHIN a
    batch, so a multi-batch out-of-order drain could legally diverge
    from the gaps-and-islands SQL — must pass this instead of assuming
    the drain shape in a comment."""
    spark = stream_df.sparkSession
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = _drain(
        spark,
        lambda: (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(
                "complete" if stream_df.isStreaming and _has_agg(stream_df) else "append"
            )
            .trigger(availableNow=True)
            .start()
        ),
        timeout_sec,
        drain_partitions,
        "stream",
    )
    if require_single_batch:
        fed = [p for p in q.recentProgress if (p.get("numInputRows") or 0) > 0]
        if len(fed) != 1:
            raise AssertionError(
                f"drain delivered input across {len(fed)} micro-batches; "
                "the caller's batch oracle assumes exactly one"
            )
    return spark.table(name)


def _has_agg(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


def run_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Drain a (bounded) stream into a parquet SINK with a checkpoint —
    the production exactly-once path (file sink + WAL: restarted jobs
    resume from the checkpoint and never duplicate committed files),
    where run_to_memory is the test harness. Append output mode — the
    sink receives only FINALIZED results (watermark-closed windows), so
    an aggregate must be watermarked. Returns the re-read DataFrame.
    ``drain_partitions``: see ``_drain``."""
    spark = stream_df.sparkSession
    _drain(
        spark,
        lambda: (
            stream_df.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        ),
        timeout_sec,
        drain_partitions,
        "stream",
    )
    return spark.read.parquet(path)


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_col: str = "ts",
    within: str = "5 minutes",
    watermark: str = "0 seconds",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: pair each left event with right events
    for the same ``key`` that follow it within ``within`` (click →
    purchase attribution, the canonical funnel join).

    Both sides carry a watermark and the join condition bounds
    right.ts ∈ (left.ts, left.ts + within] — the time-range constraint
    is what lets Spark's symmetric hash join EVICT state (unbounded
    stream-stream joins grow state forever; this one holds at most
    ``within`` + watermark per key). State scales with the event rate ×
    window, not history — the 100 TB posture.

    ``how='left_outer'``: unmatched left rows are emitted with NULL right
    columns — but only once the watermark has closed their match window,
    so on a BOUNDED drain the last rows' NULLs can lag one flush cycle
    behind the batch-equivalent result (observed: the final tail row of
    a drained fixture). Inner mode has no such asymmetry and is what the
    oracle-checked catalog entry (q115) uses.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type '{how}'")
    lt, rt = f"__l_{ts_col}", f"__r_{ts_col}"
    lk = f"__l_{key}"
    l = left.withWatermark(ts_col, watermark).select(
        *[F.col(c).alias(f"__l_{c}") for c in left.columns]
    )
    r = right.withWatermark(ts_col, watermark).select(
        *[F.col(c).alias(f"__r_{c}") for c in right.columns]
    )
    cond = (
        (F.col(lk) == F.col(f"__r_{key}"))
        & (F.col(rt) > F.col(lt))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how)


def incremental_dedup_stream(
    new_stream: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming twin of dedup.dedup_against (exact mode): continuously
    ingest new documents, drop any whose normalized-content digest is
    already in the accumulated corpus OR was already emitted earlier in
    the stream, and append the surviving digests to a parquet sink.

    Two dedup layers:
    - within-stream: streaming ``dropDuplicates`` on the digest — state
      persists ACROSS micro-batches (a doc arriving in batch 7 that
      duplicates one from batch 2 is dropped). Unbounded state by
      design here (the digest set is exactly what a dedup service must
      remember); bound it with a watermark upstream if the ingest has
      event time.
    - vs the corpus: per micro-batch LEFT ANTI join against the static
      seen-digest table inside ``foreachBatch`` — the batch DataFrame
      API is fully available there, so the anti-join needs no
      stream-static join support. The shuffle carries 32-byte digests
      only, and a materialized digest table bucketed on the digest
      makes it co-located at scale (same posture as dedup_against).

    Emits (content_md5) rows — set semantics, so the result is
    arrival-order independent and oracle-checkable.

    Replay safety (r12 sink audit): foreachBatch is at-least-once, so
    a replayed batch re-appends its (byte-identical) digests; the
    result is a SET, so the read path is DISTINCT of the sink — the
    idempotent-merge armor, no markers needed. Returns the re-read
    DISTINCT sink.
    """
    from dabstract_spark.operators.dedup import normalize_text

    seen = seen_df.select(F.md5(normalize_text(text_col)).alias("__h")).distinct()
    hashed = new_stream.select(F.md5(normalize_text(text_col)).alias("content_md5"))
    deduped = hashed.dropDuplicates(["content_md5"])

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.join(seen, batch_df["content_md5"] == seen["__h"], "left_anti")
            .write.mode("append")
            .parquet(out_path)
        )

    return _drain_foreach_batch(
        deduped,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "incremental_dedup_stream",
    ).distinct()


def rolling_distinct_stream(
    src: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Streaming rolling N-day distinct keys (live WAU): COUNT(DISTINCT)
    is unsupported in streaming aggregations, so distinctness becomes
    dropDuplicates STATE — explode each event into the N window-ending
    days it serves, dedup on (key, window-day), then a plain streaming
    count per day. Two chained stateful operators; state is bounded by
    (active keys × N), the same table the batch twin (q182) builds.
    NULL keys are filtered — COUNT(DISTINCT key) never counts NULL, and
    the dedup state otherwise would."""
    exploded = (
        src.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col), F.to_date(ts_col).alias("__day"))
        .select(
            key_col,
            F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("__i"),
            "__day",
        )
        .select(key_col, F.date_add(F.col("__day"), F.col("__i")).alias("wday"))
    )
    dedup = exploded.dropDuplicates([key_col, "wday"])
    return dedup.groupBy("wday").agg(F.count(F.lit(1)).alias("wau"))


def cms_sketch_stream(
    new_stream: DataFrame,
    key_col: str,
    out_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 256,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming count-min maintenance (the online twin of
    operators/sketches.py): each micro-batch reduces to its PARTIAL
    sketch — a ≤ depth·width-row (j, bucket, cnt) table — appended to
    the sink; the live frequency table at any time is ``cms_merge`` of
    the sink, never a rescan of past batches. Because merge is a plain
    SUM, the drained result is arrival-order and batch-boundary
    independent — exactly the batch sketch, so it hash-checks against
    the batch SQL oracle.

    Replay safety (r12 sink audit): merge-by-SUM is NOT idempotent —
    foreachBatch is at-least-once, so a replayed batch would
    double-count every key. Each partial row therefore carries
    (run_id, batch_id) markers (the calibration_stream discipline) and
    the read path drops duplicate (run_id, batch_id, j, bucket) rows
    before returning. Returns the partial-sketch table in the
    pre-marker (j, bucket, cnt) schema.
    """
    from dabstract_spark.operators.sketches import cms_sketch

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            cms_sketch(batch_df, key_col, depth=depth, width=width)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        new_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "cms_sketch_stream",
    )
    return dedup_marked_partials(sink, ["j", "bucket"]).drop("run_id", "batch_id")


def hist_sketch_stream(
    new_stream: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...],
    out_path: str,
    checkpoint: str,
    width_micro: int = 4_000_000,
    bins: int = 128,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming histogram maintenance (the online twin of the
    equi-width quantile sketch in operators/sketches.py): each
    micro-batch reduces to its PARTIAL (group, bin, cnt) table —
    ≤ |groups|·bins rows — appended to the sink; the live histogram at
    any time is ``hist_merge`` of the sink, never a rescan of past
    batches, and quantiles come off the merged sketch. Merge is a plain
    SUM, so the drained result is arrival-order and batch-boundary
    independent — exactly the batch sketch, hash-checkable against the
    batch SQL oracle. ``value_col`` must already be bigint micro-units.

    Replay safety (r12 sink audit): merge-by-SUM is NOT idempotent, so
    each partial row carries (run_id, batch_id) markers and the read
    path drops duplicate (run_id, batch_id, *group_cols, bin) rows
    before returning (the calibration_stream discipline). Returns the
    partial-sketch table in the pre-marker (*group_cols, bin, cnt)
    schema."""
    from dabstract_spark.operators.sketches import hist_sketch

    if {"run_id", "batch_id"} & set(group_cols):
        raise ValueError(
            "hist_sketch_stream: group_cols may not be named run_id/batch_id "
            "(reserved for the sink's replay markers)"
        )
    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            hist_sketch(
                batch_df, value_col, group_cols, width_micro=width_micro, bins=bins
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        new_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "hist_sketch_stream",
    )
    return dedup_marked_partials(sink, [*group_cols, "bin"]).drop(
        "run_id", "batch_id"
    )


def bloom_sketch_stream(
    new_stream: DataFrame,
    key_col: str,
    out_path: str,
    checkpoint: str,
    m_bits: int = 65536,
    k_hashes: int = 4,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming Bloom-filter maintenance (the online twin of
    operators/bloom.py): each micro-batch reduces to its PARTIAL
    set-bits table (≤ ``m_bits`` rows) appended to the sink; the live
    filter at any time is ``bloom_merge`` (DISTINCT) of the sink, never
    a rescan of past batches. Because merge is a set union, the drained
    result is arrival-order and batch-boundary independent — exactly
    the batch filter, so it hash-checks against the batch SQL oracle.
    Returns the re-read partial-bits table (apply ``bloom_merge`` for
    the live filter)."""
    from dabstract_spark.operators.bloom import bloom_sketch

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            bloom_sketch(batch_df, key_col, m_bits=m_bits, k_hashes=k_hashes)
            .write.mode("append")
            .parquet(out_path)
        )

    return _drain_foreach_batch(
        new_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "bloom_sketch_stream",
    )


def rollup_maintain_stream(
    delta_stream: DataFrame,
    keys: list,
    sums: list,
    out_path: str,
    checkpoint: str,
    op_col: str = "op",
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming incremental view maintenance (the online twin of
    quality.maintain_rollup): each CDC micro-batch of insert/delete rows
    reduces to its SIGNED per-group partial — |batch groups| rows of
    (keys, dcnt, d_<m>) — appended to the sink; the live view at any
    time is ``quality.apply_rollup_delta`` of the base rollup against
    the SUM of sink partials, never a rescan of past batches or of the
    base table. Signed count/sum deltas are commutative and
    associative, so the drained result is batch-boundary and
    arrival-order independent — the maintained view hash-checks against
    a full batch recompute. Returns the re-read, replay-deduped
    partials table (group by ``keys`` + SUM, then
    ``quality.apply_rollup_delta`` for the live view).

    Replay safety (the calibration_stream discipline): foreachBatch is
    AT-LEAST-ONCE, and a SIGNED sum cannot absorb a replayed batch the
    way a SET sink can — a crash between the parquet append and the
    checkpoint commit would double-count that batch's delta forever.
    Each partial therefore carries (run_id, batch_id) markers and the
    read path drops duplicate (run_id, batch_id, *keys) rows before
    summing; restarts from the same checkpoint keep the same run_id, so
    the replayed batch collapses onto its first append.
    """
    import hashlib

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sign = F.when(F.col(op_col) == "insert", F.lit(1)).otherwise(F.lit(-1))
        partial = batch_df.groupBy(*keys).agg(
            F.sum(sign).alias("dcnt"),
            *[F.sum(sign * F.col(m)).alias(f"d_{m}") for m in sums],
        )
        (
            partial.withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        delta_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "rollup_maintain_stream",
    )
    return dedup_marked_partials(sink, list(keys)).drop("run_id", "batch_id")


def dedup_marked_partials(sink: DataFrame, subset: list) -> DataFrame:
    """Replay dedup for (run_id, batch_id)-marked partial sinks: drop
    duplicate (run_id, batch_id, *subset) rows — a foreachBatch replay
    after a crash-between-append-and-commit re-appends an identical
    partial, which must collapse onto its first write. Legacy tolerance:
    a sink written by a pre-marker operator version (no marker columns,
    or NULL-marker rows inside a mixed directory) passes through under
    its contemporary plain-sum semantics instead of being swallowed by
    a shared-NULL dedup."""
    if "run_id" not in sink.columns or "batch_id" not in sink.columns:
        return sink
    marked = sink.filter(F.col("run_id").isNotNull()).dropDuplicates(
        ["run_id", "batch_id", *subset]
    )
    legacy = sink.filter(F.col("run_id").isNull())
    return marked.unionByName(legacy)


def minhash_sigs_stream(
    doc_stream: DataFrame,
    group_col: str,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    n_hashes: int = 16,
    k: int = 3,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming merged-MinHash maintenance (the online twin of
    dedup.source_overlap): each micro-batch of documents reduces to its
    PARTIAL per-group signature — |batch groups| rows of elementwise
    mins — appended to the sink; the live per-source signature at any
    time is ``dedup.merge_group_signatures`` of the sink, never a rescan
    of past documents. Elementwise min is idempotent, commutative, and
    associative, so the drained merge is batch-boundary and
    arrival-order independent — overlap estimates from the maintained
    sketch hash-check against the batch recompute. Returns the re-read
    partial-signature table."""
    from dabstract_spark.operators.dedup import group_signatures

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            group_signatures(
                batch_df, group_col, id_col, text_col, n_hashes=n_hashes, k=k
            )
            .write.mode("append")
            .parquet(out_path)
        )

    return _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "minhash_sigs_stream",
    )


def decontaminate_stream(
    doc_stream: DataFrame,
    test_df: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    max_df: int | None = None,
    select_cols: list[str] | None = None,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming twin of dedup.decontaminate: continuously ingest new
    train documents and append only the CLEAN ones — those sharing no
    distinct k-shingle with the static test split — to the sink (the
    online enforcement gate a crawl pipeline runs in front of the
    corpus).

    Each micro-batch runs the batch ``decontaminate`` verbatim inside
    foreachBatch (ONE staging recipe, no drift — the same shared-helper
    discipline as minhash_bands/minhash_profile), against a test table
    persisted once. The keep/drop decision is per-document and
    independent of batching, so the drained sink equals the batch
    decontaminate EXACTLY regardless of micro-batch boundaries or
    arrival order.

    Replay safety (r12 sink audit): a replayed batch re-appends its
    byte-identical clean rows (every output column is a deterministic
    function of the document), so the read path is DISTINCT of the
    sink — idempotent-merge armor, no markers needed. Contract: input
    rows are unique (distinct ids), as in the batch twin — genuine
    duplicate INPUT rows would also collapse. Returns the re-read
    DISTINCT sink."""
    from dabstract_spark.operators.dedup import decontaminate

    test_static = test_df.persist()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        clean = decontaminate(
            batch_df, test_static, id_col, text_col, k=k, max_df=max_df
        )
        if select_cols is not None:
            clean = clean.select(*select_cols)
        clean.write.mode("append").parquet(out_path)

    # unpersist once the drain completes: the returned sink is
    # parquet-backed, and a leaked CacheManager entry would substitute
    # this plan into later logically-matching queries in the session
    try:
        return _drain_foreach_batch(
            doc_stream,
            _sink,
            checkpoint,
            out_path,
            timeout_sec,
            drain_partitions,
            "decontaminate_stream",
        ).distinct()
    finally:
        test_static.unpersist()


def cohort_activity_stream(
    event_stream: DataFrame,
    user_col: str,
    ts_col: str,
    out_path: str,
    checkpoint: str,
    period_sec: int = 604_800,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming maintenance of the cohort-retention activity table:
    each micro-batch appends its DISTINCT (user, epoch-period) pairs to
    the sink; the live retention triangle at any time is
    ``events.retention_from_activity`` over the DISTINCT of the sink —
    never a rescan of past events. Set union is idempotent, commutative
    and associative, so the drained triangle equals the batch
    ``cohort_retention`` exactly, regardless of micro-batch boundaries
    or arrival order (the same algebra as the Bloom/histogram
    maintainers). Returns the re-read DISTINCT activity table."""
    wk = F.expr(f"CAST(floor(unix_timestamp({ts_col})) AS BIGINT) div {period_sec}")
    pairs = event_stream.select(F.col(user_col).alias("u"), wk.alias("wk"))

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.distinct().write.mode("append").parquet(out_path)

    sink = _drain_foreach_batch(
        pairs,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "cohort_activity_stream",
    )
    return sink.distinct()


def curate_stream(
    doc_stream: DataFrame,
    test_df: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    k: int = 5,
    gopher_kwargs: dict | None = None,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming curation gate — the ONLINE twin of the q221 curation
    core: every micro-batch of crawled documents passes the Gopher
    quality rules (text.gopher_rules, verbatim), is decontaminated
    against the static test split (dedup.decontaminate, verbatim), and
    appends the surviving normalized-content digests to the sink; the
    live clean-corpus membership at any time is the DISTINCT of the
    sink.

    Every per-document decision (quality rules, shingle overlap,
    content digest) is independent of batching, and the output is a
    digest SET — so the drained result equals the batch gate exactly,
    for any micro-batch boundaries and any arrival order (set-union
    algebra, like the Bloom/cohort maintainers; no stream state at
    all). Returns the re-read DISTINCT digest table."""
    from dabstract_spark.operators.dedup import decontaminate, normalize_text
    from dabstract_spark.operators.text import gopher_rules

    test_static = test_df.persist()
    gkw = gopher_kwargs or {}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        keep = (
            gopher_rules(batch_df, id_col, text_col, **gkw)
            .filter(F.col("keep"))
            .select(id_col)
        )
        gated = batch_df.join(keep, id_col, "left_semi")
        clean = decontaminate(gated, test_static, id_col, text_col, k=k)
        (
            clean.select(F.md5(normalize_text(text_col)).alias("content_md5"))
            .distinct()
            .write.mode("append")
            .parquet(out_path)
        )

    # drain-scoped persist: see decontaminate_stream
    try:
        sink = _drain_foreach_batch(
            doc_stream,
            _sink,
            checkpoint,
            out_path,
            timeout_sec,
            drain_partitions,
            "curate_stream",
        )
    finally:
        test_static.unpersist()
    return sink.distinct()


def neardup_ingest_stream(
    doc_stream: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 3,
    max_bucket: int | None = 64,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming NEAR-dup ingest gate (the LSH sibling of the exact
    incremental_dedup_stream): the static corpus is banded ONCE into a
    persisted LSH index — md5-rank capped at ``max_bucket`` members per
    band bucket, the q46 hot-band discipline applied to the index side —
    and every micro-batch of new documents is banded with the SAME
    minhash_bands staging and hash-joined against it; emitted
    (new_id, corpus_id) candidate pairs append to the sink, live
    membership = DISTINCT of the sink.

    Each new document's candidates depend only on the fixed index, so
    the drained pair set equals the batch join exactly under any
    batching/arrival order. At scale the index is bucket-bounded
    (≤ max_bucket rows per (band, hash)) and the per-batch join touches
    only matching buckets. Returns the re-read DISTINCT pair table."""
    from pyspark.sql import Window

    from dabstract_spark.functions.hashing import md5_order
    from dabstract_spark.operators.dedup import minhash_bands

    idx = minhash_bands(corpus_df, id_col, text_col, n_hashes=n_hashes, bands=bands, k=k)
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_hash").orderBy(
            md5_order(F.col(id_col), 0)
        )
        idx = (
            idx.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= max_bucket)
            .drop("__rk")
        )
    idx = idx.withColumnRenamed(id_col, "__corpus_id").persist()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        nb = minhash_bands(
            batch_df, id_col, text_col, n_hashes=n_hashes, bands=bands, k=k
        )
        (
            nb.join(idx, ["band_id", "band_hash"])
            .select(
                F.col(id_col).alias("new_id"),
                F.col("__corpus_id").alias("corpus_id"),
            )
            .distinct()
            .write.mode("append")
            .parquet(out_path)
        )

    # drain-scoped persist: see decontaminate_stream
    try:
        sink = _drain_foreach_batch(
            doc_stream,
            _sink,
            checkpoint,
            out_path,
            timeout_sec,
            drain_partitions,
            "neardup_ingest_stream",
        )
    finally:
        idx.unpersist()
    return sink.distinct()


def bootstrap_stream(
    doc_stream: DataFrame,
    key: str,
    value_col: str,
    out_path: str,
    checkpoint: str,
    n_boot: int = 32,
    seed: int = 0,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming maintenance of the Poisson-bootstrap metric (the online
    twin of select.bootstrap_means): each micro-batch appends its
    PARTIAL per-replicate sums (b, Σw, Σw·v) — n_boot rows per batch,
    from the SAME bootstrap_partials staging as the batch op — and the
    live replicate means at any time are one merge-by-sum over the
    sink, never a rescan of past documents. Weights are per-(seed, b,
    key) deterministic and the partials are plain sums, so the drained
    means equal the batch bootstrap EXACTLY under any batching or
    arrival order (the CMS/histogram maintenance algebra).

    Replay safety (r12 sink audit): merge-by-SUM is NOT idempotent, so
    each partial row carries (run_id, batch_id) markers and the read
    path drops duplicate (run_id, batch_id, b) rows before summing
    (the calibration_stream discipline). Returns the merged
    (b, n_eff, mean_ppm) table."""
    from dabstract_spark.operators.select import bootstrap_partials

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            bootstrap_partials(batch_df, key, value_col, n_boot=n_boot, seed=seed)
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "bootstrap_stream",
    )
    sink = dedup_marked_partials(sink, ["b"]).drop("run_id", "batch_id")
    return sink.groupBy("b").agg(
        F.sum("n_eff").alias("n_eff"),
        F.expr("CAST(sum(s) div greatest(sum(n_eff), 1) AS BIGINT)").alias("mean_ppm"),
    )


def dsir_score_stream(
    doc_stream: DataFrame,
    table: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    n_buckets: int = 1024,
    seed: int = 0,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming DSIR scorer — the ONLINE twin of q259's selection
    stage: every micro-batch of incoming raw documents is scored
    against a FIXED hashed-n-gram log-ratio ``table`` (trained once on
    static target/raw corpora by ``text.dsir_logratio_table``) and the
    (id, n_feats, score_units) rows append to the sink; downstream
    admission thresholds read the live sink.

    Per-document scores depend only on the document's own n-grams and
    the fixed broadcast table — independent of batching and arrival
    order — and the output is one row per distinct document, so the
    drained sink equals the batch scorer exactly (the curate_stream /
    cohort set-algebra argument; no stream state at all)."""
    from dabstract_spark.functions.hashing import md5_bucket_sql
    from dabstract_spark.operators.text import _dsir_features_sql

    table_static = table.persist()
    # SQL strings built ONCE; each micro-batch re-parses them in 2 py4j
    # round trips instead of rebuilding ~150 Column ops (r12 chatter cut
    # — per-batch plan construction is a per-trigger latency floor)
    feats_sql = f"explode({_dsir_features_sql(f'`{text_col}`')}) AS __f"
    bucket_sql = md5_bucket_sql("__f", n_buckets, seed) + " AS bucket"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        feats = batch_df.selectExpr(f"`{id_col}`", feats_sql).selectExpr(
            f"`{id_col}`", bucket_sql
        )
        scored = (
            feats.join(F.broadcast(table_static), "bucket", "left")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_feats"),
                F.sum(F.coalesce("w_units", F.lit(0))).alias("score_units"),
            )
        )
        scored.write.mode("append").parquet(out_path)

    # drain-scoped persist: see decontaminate_stream
    try:
        sink = _drain_foreach_batch(
            doc_stream,
            _sink,
            checkpoint,
            out_path,
            timeout_sec,
            drain_partitions,
            "dsir_score_stream",
        )
    finally:
        table_static.unpersist()
    return sink.distinct()


def calibration_stream(
    doc_stream: DataFrame,
    group_col: str,
    score_col: str,
    out_path: str,
    checkpoint: str,
    max_score: int = 1_000_000,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming maintenance of the per-group calibration table — the
    ONLINE twin of ``select.grouped_rank_ppm``'s offset state: each
    micro-batch appends its per-(group, 256-way value-bucket) counts
    (map-side combinable partials), and the live table is the merge-by-
    sum of the sink. Counts are mergeable by construction (the IVM /
    CMS partials argument), so the drained table equals the batch
    bucket counts exactly for any micro-batch boundaries; percentile
    assignment for new documents is then one broadcast join against
    the ≤ n_groups×256-row merged table.

    Replay safety: foreachBatch is AT-LEAST-ONCE — a micro-batch
    replayed after a failure between the parquet append and the
    checkpoint commit lands in the sink twice, and unlike the SET
    sinks (curate/cohort/dsir) a sum cannot absorb the duplicate. Each
    partial row therefore carries (run_id, batch_id) — run_id is a
    digest of the CHECKPOINT path, so batch_id is unique within it by
    Structured Streaming's contract — and the merge drops duplicate
    (run_id, batch_id, group, bucket) rows before summing: the sink is
    idempotent per micro-batch, so the exactness claim above survives
    replays, not just clean availableNow drains. Scoping the dedup to
    run_id keeps LEGITIMATE later drains (same out_path, fresh
    checkpoint, batch_id restarting at 0) countable instead of
    silently swallowed. Caveat: run_id is the checkpoint PATH's
    digest, so deleting a checkpoint and recreating it at the SAME
    path while keeping the sink collides with the dead run — pair the
    sink and checkpoint lifecycles (delete both or neither), the same
    hygiene Structured Streaming's own file sinks require. A sink
    directory written by the pre-marker version of this operator still
    reads: rows without markers (whole-legacy OR mixed directories)
    merge under their contemporary plain sum semantics instead of
    failing the read or being swallowed by a shared-NULL dedup."""
    import hashlib

    width = max(1, -(-int(max_score) // 256))
    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.col(group_col),
                F.least(
                    F.lit(255),
                    F.greatest(F.lit(0), (F.col(score_col) / width).cast("int")),
                ).alias("bucket"),
            )
            .groupBy(group_col, "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "calibration_stream",
    )
    # legacy-sink tolerance: a sink directory written by the
    # pre-(run_id, batch_id) version of this operator has no replay
    # markers to dedup on — fall back to its own contemporary
    # semantics (plain merge-by-sum) instead of failing the read with
    # an AnalysisException in dropDuplicates. In a MIXED directory
    # (legacy files + marked files) the legacy rows surface as NULL
    # markers under the marked schema: dedup only the marked rows —
    # collapsing distinct legacy batches on a shared NULL marker would
    # silently swallow their partials.
    return (
        dedup_marked_partials(sink, [group_col, "bucket"])
        .groupBy(group_col, "bucket")
        .agg(F.sum("n").alias("n"))
    )


def oov_score_stream(
    doc_stream: DataFrame,
    vocab_df: DataFrame,
    id_col: str,
    text_col: str,
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
    vocab_size_hint: int | None = None,
) -> DataFrame:
    """Streaming OOV scorer — the ONLINE twin of q270's coverage
    screen: every micro-batch of incoming documents is scored against a
    FIXED vocabulary table (``textstats.vocab_top_k`` trained once on
    the static corpus) and the per-document (id, total_tokens,
    oov_tokens, oov_ppm) rows append to the sink; ingest gates read the
    live sink ("reject pages the tokenizer will fragment").

    Per-document scores depend only on the document's own tokens and
    the fixed broadcast vocabulary — independent of batching and
    arrival order — and the output is one row per distinct document, so
    the drained sink equals the batch scorer exactly (the
    dsir_score_stream set-algebra argument; no stream state at all).
    Each micro-batch runs ``textstats.oov_scores`` VERBATIM with the
    document id as the key — ONE scoring recipe shared with the batch
    ``vocab_oov``, no drift (the decontaminate_stream discipline). The
    vocabulary persists for the drain ONLY (try/finally unpersist, the
    r8 drain-scoped lifecycle)."""
    from dabstract_spark.operators.textstats import oov_scores

    # dedup ONCE before the persist (a duplicated caller vocabulary
    # would fan out every micro-batch's membership join), then vouch
    # per-batch; the static broadcast is gated on the caller's size
    # hint (oov_scores' guard — an unbounded vocabulary is never an
    # unguarded per-batch driver broadcast)
    vocab_static = vocab_df.select("term").dropDuplicates(["term"]).persist()

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        oov_scores(
            batch_df,
            id_col,
            text_col,
            vocab_static,
            vocab_unique=True,
            vocab_size_hint=vocab_size_hint,
        ).write.mode("append").parquet(out_path)

    # drain-scoped persist: see decontaminate_stream
    try:
        sink = _drain_foreach_batch(
            doc_stream,
            _sink,
            checkpoint,
            out_path,
            timeout_sec,
            drain_partitions,
            "oov_score_stream",
        )
    finally:
        vocab_static.unpersist()
    return sink.distinct()


def drift_monitor_stream(
    doc_stream: DataFrame,
    ref_counts: DataFrame,
    bucket_col: str,
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming distribution-drift monitor — the ONLINE twin of
    ``textstats.histogram_drift``: each micro-batch of incoming rows
    (already carrying the caller's bucket column) appends its per-
    bucket counts to the sink, and the live drift card is
    ``drift_from_counts`` of the static reference histogram vs the
    merge-by-sum of the sink — "alarm when tvd_ppm of arriving traffic
    vs the reference corpus crosses the threshold".

    Counts are additive partials (the calibration_stream argument), so
    for any micro-batch boundaries the merged sink equals the one-shot
    count and the drained card equals the batch card EXACTLY. The
    share/TVD arithmetic is ``textstats.drift_from_counts`` VERBATIM —
    one drift recipe for both twins, no drift between the drift
    monitors. Replay safety mirrors calibration_stream: foreachBatch
    is at-least-once, a sum cannot absorb a replayed append, so every
    partial carries (run_id = digest(checkpoint path), batch_id) and
    the read dedups (run_id, batch_id, bucket) before summing —
    idempotent per micro-batch, while later legitimate drains (fresh
    checkpoint, batch_id restarting at 0) stay countable. The same
    checkpoint/sink lifecycle-pairing caveat applies."""
    import hashlib

    from dabstract_spark.operators.textstats import drift_from_counts

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(bucket_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "drift_monitor_stream",
    )
    merged = (
        dedup_marked_partials(sink, [bucket_col])
        .groupBy(bucket_col)
        .agg(F.sum("n").alias("n_b"))
    )
    return drift_from_counts(ref_counts, merged, bucket_col)


def uniqueness_stream(
    doc_stream: DataFrame,
    quasi_cols: list[str],
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming k-anonymity monitor — the ONLINE twin of
    ``textstats.uniqueness_audit``: each micro-batch appends its
    per-combo partial counts to the sink, and the live card is
    ``uniqueness_from_combos`` of the merge-by-sum — "alarm when the
    share of re-identifiable (k=1) rows in the corpus-so-far crosses
    the threshold", maintained without ever rescanning the corpus.

    Combo counts are additive partials, so for any micro-batch
    boundaries the merged sink equals the one-shot count and the
    drained card equals the batch card EXACTLY — note the k-CLASS of a
    combo legitimately migrates as data arrives (a combo unique in
    batch 0 stops being k=1 when batch 3 adds its twin), which is
    precisely why the sink stores per-combo counts and NEVER
    pre-classified rollups (class counts are not additive; combo
    counts are). The card arithmetic is ``uniqueness_from_combos``
    VERBATIM — one audit recipe for both twins. Replay safety mirrors
    drift_monitor_stream: every partial carries (run_id =
    digest(checkpoint path), batch_id) and the read dedups (run_id,
    batch_id, combo) before summing — idempotent per micro-batch. The
    same checkpoint/sink lifecycle-pairing caveat applies."""
    import hashlib

    from dabstract_spark.operators.textstats import uniqueness_from_combos

    if not quasi_cols:
        raise ValueError("uniqueness_stream needs at least one quasi column")
    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]
    # sink columns are positionally aliased (__q0, __q1, ...) so a
    # monitored column named "n"/"run_id"/"batch_id" cannot collide
    # with the sink's own marker columns (the agreement_stream g/p
    # discipline); the read renames back before the shared card
    safe = [f"__q{i}" for i in range(len(quasi_cols))]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                *[F.col(c).alias(a) for c, a in zip(quasi_cols, safe)]
            )
            .groupBy(*safe)
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "uniqueness_stream",
    )
    merged = (
        dedup_marked_partials(sink, list(safe))
        .groupBy(*safe)
        .agg(F.sum("n").alias("__k"))
        .select(
            *[F.col(a).alias(c) for c, a in zip(quasi_cols, safe)], "__k"
        )
    )
    return uniqueness_from_combos(merged)


def balance_stream(
    doc_stream: DataFrame,
    group_cols: list[str],
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming mixture-balance monitor — the ONLINE twin of
    ``textstats.balance_card``: each micro-batch appends its per-group
    partial counts to the sink, and the live one-row card is
    ``balance_from_counts`` of the merge-by-sum — "alarm when the
    corpus-so-far's Gini / top-component share crosses the threshold",
    maintained without rescanning the corpus. Mixture counts are
    additive partials, so for any micro-batch boundaries the merged
    sink equals the one-shot count and the drained card equals the
    batch card EXACTLY. The card arithmetic is ``balance_from_counts``
    VERBATIM — one concentration recipe for both twins. Replay safety
    mirrors drift_monitor_stream: partials carry (run_id =
    digest(checkpoint path), batch_id) and the read dedups (run_id,
    batch_id, group) before summing. The same checkpoint/sink
    lifecycle-pairing caveat applies."""
    import hashlib

    from dabstract_spark.operators.textstats import balance_from_counts

    if not group_cols:
        raise ValueError("balance_stream needs at least one group column")
    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]
    # positional sink aliases — see uniqueness_stream
    safe = [f"__q{i}" for i in range(len(group_cols))]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                *[F.col(c).alias(a) for c, a in zip(group_cols, safe)]
            )
            .groupBy(*safe)
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "balance_stream",
    )
    merged = (
        dedup_marked_partials(sink, list(safe))
        .groupBy(*safe)
        .agg(F.sum("n").alias("__n"))
        .select(
            *[F.col(a).alias(c) for c, a in zip(group_cols, safe)], "__n"
        )
    )
    return balance_from_counts(merged, group_cols)


def centroid_shift_stream(
    vec_stream: DataFrame,
    ref_sums: DataFrame,
    label_col: str,
    vec_col: str,
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming representation-drift monitor — the ONLINE twin of
    ``similarity.centroid_shift``: each micro-batch of incoming vectors
    appends its per-(label, dim) partial micro-unit sums to the sink,
    and the live card is ``centroid_shift_from_sums`` of the static
    reference sums vs the merge-by-sum — "alarm when a label's
    incoming-traffic centroid moves off the reference corpus", after a
    model upgrade or a feed change, without rescanning anything.

    The partials are ``similarity.centroid_sums`` VERBATIM (exact
    DECIMAL(38,0) integer sums + counts), which are ADDITIVE — so for
    any micro-batch boundaries the merged sink equals the one-shot
    sums and the drained card equals the batch card EXACTLY, the
    strongest form of the twin guarantee (no floats ever cross a batch
    boundary). ``ref_sums`` is the (label, dim) table from
    ``centroid_sums(ref_df, label, vec)`` — the caller computes it
    once from the frozen reference. Replay safety mirrors
    drift_monitor_stream: partials carry (run_id = digest(checkpoint
    path), batch_id) and the read dedups (run_id, batch_id, label,
    dim) before summing. The same checkpoint/sink lifecycle-pairing
    caveat applies."""
    import hashlib

    from dabstract_spark.operators.similarity import (
        centroid_shift_from_sums,
        centroid_sums,
    )

    # validate BEFORE the drain: a miswired ref_sums must fail fast, not
    # after the stream has already run and appended partials to the sink
    missing = {"__l", "__i", "__s", "__n"} - set(ref_sums.columns)
    if missing:
        raise ValueError(
            "centroid_shift_stream: ref_sums must be a centroid_sums() "
            f"table with default column names; missing {sorted(missing)}"
        )

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            centroid_sums(batch_df, label_col, vec_col, "s", "n")
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        vec_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "centroid_shift_stream",
    )
    merged = (
        dedup_marked_partials(sink, ["__l", "__i"])
        .groupBy("__l", "__i")
        .agg(
            F.expr("CAST(sum(s) AS DECIMAL(38,0))").alias("__sb"),
            F.sum("n").alias("__nb"),
        )
    )
    a = ref_sums.withColumnRenamed("__s", "__sa").withColumnRenamed(
        "__n", "__na"
    )
    return centroid_shift_from_sums(a, merged, label_col)


def agreement_stream(
    doc_stream: DataFrame,
    gold_col: str,
    pred_col: str,
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming label-agreement monitor — the ONLINE twin of
    ``textstats.agreement_card``: each micro-batch appends its
    per-(gold, pred) partial confusion counts to the sink, and the
    live one-row card is ``agreement_from_counts`` of the merge-by-sum
    — "alarm when the classifier's kappa against incoming gold labels
    drops below the gate", the live QC read on an annotation or
    lang-ID pipeline. Confusion counts are additive partials, so the
    drained card equals the batch card EXACTLY for any micro-batch
    boundaries; the card arithmetic is ``agreement_from_counts``
    VERBATIM. Replay safety mirrors drift_monitor_stream: partials
    carry (run_id = digest(checkpoint path), batch_id) and the read
    dedups (run_id, batch_id, gold, pred) before summing. The same
    checkpoint/sink lifecycle-pairing caveat applies."""
    import hashlib

    from dabstract_spark.operators.textstats import agreement_from_counts

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                F.col(gold_col).alias("g"), F.col(pred_col).alias("p")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "agreement_stream",
    )
    merged = (
        dedup_marked_partials(sink, ["g", "p"])
        .groupBy(F.col("g").alias("__gold"), F.col("p").alias("__pred"))
        .agg(F.sum("n").alias("__n"))
    )
    return agreement_from_counts(merged)


def hll_stream(
    doc_stream: DataFrame,
    key_col: str,
    group_cols: list[str],
    out_path: str,
    checkpoint: str,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming distinct-count monitor — the ONLINE twin of
    ``sketches.hll_distinct_card``: each micro-batch appends its partial
    HLL register table to the sink; the live card is ``hll_card`` of the
    merge-by-MAX. Registers merge by MAX — idempotent AND commutative —
    so this twin carries the STRONGEST replay guarantee in the module:
    any micro-batch boundaries, any replayed append, any partial
    overlap produce the IDENTICAL register table, with no (run_id,
    batch_id) dedup needed at all (the markers are still written for
    lineage/debugging parity with the other monitors). The card
    arithmetic is ``hll_card`` VERBATIM — one estimator for both twins."""
    import hashlib

    from dabstract_spark.operators.sketches import hll_card, hll_merge, hll_partials

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]
    # positional sink aliases — see uniqueness_stream
    safe = [f"__q{i}" for i in range(len(group_cols))]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            hll_partials(
                batch_df.select(
                    F.col(key_col).alias("__k"),
                    *[F.col(c).alias(a) for c, a in zip(group_cols, safe)],
                ),
                "__k",
                tuple(safe),
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "hll_stream",
    )
    merged = hll_merge(sink.select(*safe, "bucket", "M"), tuple(safe))
    return hll_card(merged, tuple(safe)).select(
        *[F.col(a).alias(c) for c, a in zip(group_cols, safe)],
        "v_zero",
        "s_scaled",
        "estimate_micro",
    )


def trend_stream(
    doc_stream: DataFrame,
    group_col: str,
    out_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    bucket_sec: int = 86_400,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming robust-trend monitor — the ONLINE twin of
    ``events.theil_sen_trend``: each micro-batch appends its per-(group,
    day-bucket) partial counts to the sink; the live card is
    ``theil_sen_from_counts`` of the merge-by-sum — "alarm when a
    source's volume slope turns negative", maintained without
    rescanning history. Bucket counts are additive partials, so for any
    micro-batch boundaries the merged sink equals the one-shot count
    and the drained card equals the batch card EXACTLY (the slope/
    median arithmetic is ``theil_sen_from_counts`` VERBATIM — one
    recipe for both twins). Replay safety mirrors balance_stream:
    partials carry (run_id = digest(checkpoint path), batch_id) and the
    read dedups (run_id, batch_id, group, bucket) before summing."""
    import hashlib

    from dabstract_spark.operators.events import theil_sen_from_counts

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]
    bucket = F.expr(
        f"CAST(floor(unix_timestamp({ts_col})) AS BIGINT) div {int(bucket_sec)}"
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(F.col(group_col).alias("__q0"), bucket.alias("__d"))
            .groupBy("__q0", "__d")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "trend_stream",
    )
    merged = (
        dedup_marked_partials(sink, ["__q0", "__d"])
        .groupBy("__q0", "__d")
        .agg(F.sum("n").alias("__c"))
        .select(F.col("__q0").alias("__g"), "__d", "__c")
    )
    return theil_sen_from_counts(merged, group_col)


def weighted_sample_stream(
    doc_stream: DataFrame,
    n: int,
    weight_col: str,
    out_path: str,
    checkpoint: str,
    seed: int = 0,
    key: str = "row_id",
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming weighted reservoir — the ONLINE twin of
    ``select.weighted_sample_n``: each micro-batch appends ITS OWN
    top-n of the exponential race to the sink (n rows per batch, never
    the batch), and the live sample is the top-n over the union — exact
    because any corpus-wide winner is by definition inside its own
    batch's top-n (the A-ES race key is a pure deterministic function
    of the key, so partials from different batches are comparable).
    This is the classic mergeable weighted-reservoir law: stream ==
    batch EXACTLY for any batching, UNDER THE UNIQUE-KEY CONTRACT the
    batch sampler shares (keys are row identities — doc_id/row_id; a
    corpus that repeats a key row is malformed for BOTH twins: the
    batch form would hand duplicate rows identical race keys, and this
    twin would collapse them). Replay safety: the merge dedups on the
    KEY itself (a replayed partial re-adds identical (key, w) rows —
    deterministic because under the contract a key maps to one weight;
    key dedup is strictly stronger than (run_id, batch_id) markers,
    which are still written for lineage parity). The merged
    sink is ≤ n·n_batches rows — bounded, so the final
    ``orderBy().limit(n)`` rank runs on a table that never grows with
    the corpus."""
    import hashlib

    from dabstract_spark.functions.hashing import md5_unit_open
    from dabstract_spark.operators.select import weighted_sample_n

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            weighted_sample_n(batch_df, n, weight_col, seed=seed, key=key)
            .select(
                F.col(key).alias("__k"),
                F.col("weight").alias("__w"),
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "weighted_sample_stream",
    )
    # recompute the race key (pure function of the key) on the bounded
    # merged table, dedup by key, then the exact global top-n
    merged = (
        sink.select(F.col("__k"), F.col("__w"))
        .dropDuplicates(["__k"])
        .withColumn(
            "__e", F.round(-F.log(md5_unit_open("__k", seed)) / F.col("__w"), 6)
        )
    )
    from pyspark.sql import Window

    top = merged.orderBy(F.asc("__e"), F.asc("__k")).limit(int(n))
    w_rank = Window.partitionBy(F.lit(0)).orderBy(F.asc("__e"), F.asc("__k"))
    return top.select(
        F.col("__k").alias(key),
        F.col("__w").cast("double").alias("weight"),
        F.row_number().over(w_rank).cast("bigint").alias("sample_rank"),
    )


def kmv_stream(
    doc_stream: DataFrame,
    key_col: str,
    group_cols: list[str],
    out_path: str,
    checkpoint: str,
    k: int = 256,
    timeout_sec: int = 120,
    drain_partitions: int = 8,
) -> DataFrame:
    """Streaming KMV distinct monitor — the ONLINE twin of
    ``sketches.kmv_partials`` → ``kmv_estimate``: each micro-batch
    appends its own k-smallest hash table to the sink (≤ k rows per
    group per batch); the live card is ``kmv_estimate`` of
    ``kmv_merge`` over the union. Like the HLL registers, the merge
    (k smallest of the distinct union) is idempotent AND commutative —
    stream == batch EXACTLY for any batching, replay, or overlap, no
    dedup markers needed (written for lineage parity only)."""
    import hashlib

    from dabstract_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
        kmv_partials,
    )

    run_id = hashlib.md5(str(checkpoint).encode()).hexdigest()[:16]
    safe = [f"__q{i}" for i in range(len(group_cols))]

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            kmv_partials(
                batch_df.select(
                    F.col(key_col).alias("__k"),
                    *[F.col(c).alias(a) for c, a in zip(group_cols, safe)],
                ),
                "__k",
                tuple(safe),
                k,
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(out_path)
        )

    sink = _drain_foreach_batch(
        doc_stream,
        _sink,
        checkpoint,
        out_path,
        timeout_sec,
        drain_partitions,
        "kmv_stream",
    )
    merged = kmv_merge(sink.select(*safe, "h"), tuple(safe), k)
    return kmv_estimate(merged, tuple(safe), k).select(
        *[F.col(a).alias(c) for c, a in zip(group_cols, safe)],
        "n_kept",
        "est_distinct",
    )
