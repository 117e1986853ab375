"""Config-compiler and streaming tests.

- dataset_from_config builds the same plan as direct API calls
  (reference helpers.py:14-93 parity), YAML custom tags resolve
  (utils.py:13-146).
- Streaming twins reproduce the batch operators' results on the same
  fixture (metamorphic stream==batch check; trigger=availableNow).
"""

from __future__ import annotations

import textwrap

from pyspark.sql import functions as F

from dabstract_spark.config import dataset_from_config, load_yaml_config
from dabstract_spark.operators import events as ev
from dabstract_spark.session import load_table
from dabstract_spark.streaming import (
    latest_dedup_stream,
    run_to_memory,
    session_agg_stream,
    stream_events,
    tumbling_agg_stream,
)

SF = "/root/testdata/sf0.001"


def test_config_dict_pipeline_matches_direct(spark):
    cfg = {
        "datasets": [
            {
                "name": "parquet_table",
                "parameters": {
                    "paths": {"data": f"{SF}/documents.parquet"},
                    "row_key": "doc_id",
                    "name": "docs",
                },
            }
        ],
        "select": [
            {"name": "subsample_by_str", "parameters": {"key": "lang", "keep": ["en", "qy"]}}
        ],
    }
    ds = dataset_from_config(spark, cfg)
    got = sorted(r.doc_id for r in ds.full_df.select("doc_id").collect())
    direct = sorted(
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter(F.col("lang").isin("en", "qy"))
        .select("doc_id")
        .collect()
    )
    assert got == direct and len(got) > 0


def test_config_concat_and_xval(spark):
    base = {
        "name": "parquet_table",
        "parameters": {
            "paths": {"data": f"{SF}/documents.parquet"},
            "row_key": "doc_id",
        },
    }
    cfg = {
        "datasets": [base, base],
        "xval": {"name": "random_kfold", "parameters": {"key": "row_id", "folds": 3}},
    }
    ds = dataset_from_config(spark, cfg)
    n_single = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(ds) == 2 * n_single
    assert ds.full_df.select("dataset_id").distinct().count() == 2
    test0 = ds.get_xval_set("test", fold=0)
    assert 0 < len(test0) < 2 * n_single


def test_yaml_tags(spark, tmp_path):
    (tmp_path / "cfg.yaml").write_text(
        textwrap.dedent(
            """
            base: !join [ab, cd]
            us: !usjoin [a, b, c]
            p: !pathjoin [/root, testdata]
            injected: !kwarg [paths, data]
            """
        )
    )
    cfg = load_yaml_config("cfg", str(tmp_path), paths={"data": "/x/y"})
    assert cfg == {"base": "abcd", "us": "a_b_c", "p": "/root/testdata", "injected": "/x/y"}


def test_yaml_config_to_dataset(spark, tmp_path):
    (tmp_path / "db.yaml").write_text(
        textwrap.dedent(
            f"""
            datasets:
              - name: parquet_table
                parameters:
                  paths:
                    data: !pathjoin [{SF}, documents.parquet]
                  row_key: doc_id
            select:
              - name: threshold_subsample
                parameters: {{ratio: 0.5, key: doc_id}}
            """
        )
    )
    ds = load_yaml_config(
        "db", str(tmp_path), post_process=lambda cfg: dataset_from_config(spark, cfg)
    )
    n_all = spark.read.parquet(f"{SF}/documents.parquet").count()
    n = len(ds)
    assert 0 < n < n_all


# ------------------------------------------------------------------ #
# streaming == batch metamorphic checks
# ------------------------------------------------------------------ #
def _events_stream(spark):
    return stream_events(spark, f"{SF}/events.parquet")


def test_stream_tumbling_equals_batch(spark):
    batch = ev.tumbling_agg(load_table(spark, SF, "events"), width="1 hour")
    stream = tumbling_agg_stream(_events_stream(spark), width="1 hour")
    got = run_to_memory(stream)
    a = sorted(map(tuple, batch.collect()))
    b = sorted(map(tuple, got.collect()))
    assert a == b and len(a) > 0


def test_stream_session_equals_batch(spark):
    batch = ev.session_stats(load_table(spark, SF, "events"), gap_minutes=30)
    b_stats = sorted(
        (r.user_id, r.n_events, r.duration_sec, r.sum_value) for r in batch.collect()
    )
    stream = session_agg_stream(_events_stream(spark), gap_minutes=30)
    got = run_to_memory(stream)
    s_stats = sorted(
        (r.user_id, r.n_events, r.duration_sec, r.sum_value) for r in got.collect()
    )
    assert s_stats == b_stats and len(s_stats) > 0


def test_stream_dedup_bounded(spark):
    stream = latest_dedup_stream(_events_stream(spark), key_cols=("event_id",))
    got = run_to_memory(stream)
    batch = load_table(spark, SF, "events")
    # event_id is unique in the fixture: dedup is the identity on counts
    assert got.count() == batch.count()
    assert got.select("event_id").distinct().count() == batch.count()


def test_stream_sliding_equals_batch(spark):
    from dabstract_spark.streaming import sliding_agg_stream

    batch = ev.sliding_agg(load_table(spark, SF, "events"))
    got = run_to_memory(sliding_agg_stream(_events_stream(spark)))
    a = sorted(map(tuple, batch.collect()))
    b = sorted(map(tuple, got.collect()))
    assert a == b and len(a) > 0


def test_stateful_sessionizer_emits_closed_sessions(spark):
    """applyInPandasWithState custom operator: the emitted (closed)
    sessions are exactly the batch sessionization MINUS each user's
    final (still-open-in-state) session."""
    from pyspark.sql import Window
    from dabstract_spark.streaming import stateful_sessionizer

    got = run_to_memory(stateful_sessionizer(_events_stream(spark), gap_minutes=30))
    stream_set = sorted(
        (r.user_id, r.n_events, round(r.sum_value, 6)) for r in got.collect()
    )
    batch = ev.session_stats(load_table(spark, SF, "events"), gap_minutes=30)
    w = Window.partitionBy("user_id")
    closed_batch = batch.withColumn("__max", F.max("session_id").over(w)).filter(
        F.col("session_id") < F.col("__max")
    )
    batch_set = sorted(
        (r.user_id, r.n_events, round(r.sum_value, 6)) for r in closed_batch.collect()
    )
    assert stream_set == batch_set and len(stream_set) > 0


def test_custom_dir_dynamic_resolution(spark, tmp_path, monkeypatch):
    """DABSTRACT_SPARK_CUSTOM_DIR (reference dabstract_CUSTOM_DIR,
    helpers.py:96-184): unknown registry names resolve from plain .py
    files in a user directory — processors for ProcessingChain, dataset
    builders for dataset_factory — without import-side registration."""
    (tmp_path / "processors.py").write_text(
        "from pyspark.sql import functions as F\n"
        "from dabstract_spark.processing.processors import Processor\n\n"
        "class Doubler(Processor):\n"
        "    def expr(self, col, info):\n"
        "        return F.transform(col, lambda x: x * F.lit(2.0)), {}\n"
    )
    (tmp_path / "dbs.py").write_text(
        "from dabstract_spark.dataset import Dataset\n\n"
        "def tiny_table(spark, paths, test_only=False, **kw):\n"
        "    df = spark.range(3).withColumnRenamed('id', 'k')\n"
        "    return Dataset(df, name='tiny', test_only=test_only)\n"
    )
    monkeypatch.setenv("DABSTRACT_SPARK_CUSTOM_DIR", str(tmp_path))

    from dabstract_spark.config import dataset_factory
    from dabstract_spark.processing import ProcessingChain

    df = spark.createDataFrame([([1.0, 2.0],)], "x array<double>")
    out = ProcessingChain().add("Doubler").process_df(df, "x", new_key="y")
    assert out.select("y").collect()[0].y == [2.0, 4.0]

    ds = dataset_factory(spark, "tiny_table")
    assert sorted(r.k for r in ds.full_df.select("k").collect()) == [0, 1, 2]

    # unset -> unknown names still raise cleanly
    monkeypatch.delenv("DABSTRACT_SPARK_CUSTOM_DIR")
    import pytest as _pytest

    with _pytest.raises(KeyError):
        ProcessingChain().add("DefinitelyMissingProc")


def test_run_to_parquet_restart_no_duplicates(spark, tmp_path):
    """Exactly-once file sink: draining the same bounded stream twice
    with the SAME checkpoint must not duplicate committed windows — the
    second run finds no new data and appends nothing."""
    from dabstract_spark.streaming.ops import (
        run_to_parquet,
        stream_events,
        tumbling_agg_stream,
    )

    path, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    src = stream_events(spark, f"{SF}/events.parquet")
    agg = tumbling_agg_stream(src, width="1 hour", watermark="0 seconds")
    first = run_to_parquet(agg, path, ckpt).count()
    src2 = stream_events(spark, f"{SF}/events.parquet")
    agg2 = tumbling_agg_stream(src2, width="1 hour", watermark="0 seconds")
    second = run_to_parquet(agg2, path, ckpt).count()
    assert first == second and first > 0


def test_interval_join_left_outer_brackets_batch(spark, sf_dir):
    """Streaming left-outer interval join: every matched pair appears,
    and the full result is a subset of the batch left-outer equivalent
    (unmatched tail rows may lag the final watermark flush — documented
    operator caveat)."""
    from pyspark.sql import functions as F

    from dabstract_spark.session import load_table
    from dabstract_spark.streaming.ops import (
        interval_join_stream,
        run_to_memory,
        stream_events,
    )

    src = stream_events(spark, f"{sf_dir}/events.parquet")
    clicks = src.filter(F.col("event_type") == "click")
    buys = src.filter(F.col("event_type") == "purchase")
    got = run_to_memory(
        interval_join_stream(
            clicks, buys, key="user_id", within="5 minutes", how="left_outer"
        ).select(
            F.col("__l_event_id").alias("click_id"),
            F.col("__r_event_id").alias("purchase_id"),
        )
    )
    got_pairs = {(r["click_id"], r["purchase_id"]) for r in got.collect()}

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").alias("l")
    p = ev.filter(F.col("event_type") == "purchase").alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") > F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 5 minutes"))
    )
    batch = c.join(p, cond, "left_outer").select(
        F.col("l.event_id").alias("click_id"), F.col("r.event_id").alias("purchase_id")
    )
    batch_pairs = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    matched = {(a, b) for a, b in batch_pairs if b is not None}

    assert matched <= got_pairs <= batch_pairs
    # the lag affects at most the final flush cycle, not wholesale loss
    assert len(batch_pairs) - len(got_pairs) <= 2


def test_stream_decontaminate_equals_batch(spark, tmp_path):
    from dabstract_spark.operators.dedup import decontaminate
    from dabstract_spark.streaming.ops import decontaminate_stream, stream_events

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    train_b = docs.filter(F.col("doc_id") % 5 != 0)
    test_b = docs.filter(F.col("doc_id") % 5 == 0)
    batch_ids = sorted(
        r.doc_id for r in decontaminate(train_b, test_b, "doc_id", "text", k=5).collect()
    )
    src = stream_events(spark, f"{SF}/documents.parquet").filter(
        F.col("doc_id") % 5 != 0
    )
    got = decontaminate_stream(
        src,
        test_b,
        "doc_id",
        "text",
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        k=5,
        select_cols=["doc_id"],
    )
    assert sorted(r.doc_id for r in got.collect()) == batch_ids
    assert len(batch_ids) > 0


def test_drain_ops_release_persisted_side_tables(spark, tmp_path):
    """Drain-style ops persist a static side table for the duration of
    the drain ONLY: repeated drains must not accumulate CacheManager /
    block-manager entries (a leaked cached plan gets substituted into
    later logically-matching queries in the session), and kcenter's
    per-round localCheckpoints must be released as rounds retire."""
    from dabstract_spark.operators.similarity import kcenter_select
    from dabstract_spark.streaming.ops import decontaminate_stream, stream_events

    # snapshot AFTER materializing load_table's session-scoped hot-table
    # caches (they register in the block manager at first use, not at
    # persist() time) so only the ops under test move the counters
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    docs.count(), emb.count()
    jsc = spark.sparkContext._jsc.sc()
    before_rdds = jsc.getPersistentRDDs().size()
    before_cached = len(
        [t for t in spark.catalog.listTables() if spark.catalog.isCached(t.name)]
    )

    test_b = docs.filter(F.col("doc_id") % 5 == 0)
    src = stream_events(spark, f"{SF}/documents.parquet").filter(
        F.col("doc_id") % 5 != 0
    )
    out = decontaminate_stream(
        src, test_b, "doc_id", "text",
        str(tmp_path / "out2"), str(tmp_path / "ckpt2"),
        k=5, select_cols=["doc_id"],
    )
    assert out.count() > 0

    assert kcenter_select(emb, k=4).count() == 4

    assert jsc.getPersistentRDDs().size() == before_rdds
    assert (
        len([t for t in spark.catalog.listTables() if spark.catalog.isCached(t.name)])
        == before_cached
    )


def test_stream_cohort_equals_batch(spark, tmp_path):
    from dabstract_spark.operators.events import cohort_retention
    from dabstract_spark.streaming.ops import cohort_activity_stream, stream_events

    ev_b = load_table(spark, SF, "events").select("user_id", "ts")
    batch = sorted(map(tuple, cohort_retention(ev_b, "user_id", "ts").collect()))
    src = stream_events(spark, f"{SF}/events.parquet").select("user_id", "ts")
    active = cohort_activity_stream(
        src, "user_id", "ts", str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    from dabstract_spark.operators.events import retention_from_activity

    got = sorted(map(tuple, retention_from_activity(active).collect()))
    assert got == batch and len(got) > 0


def test_stream_curate_equals_batch(spark, tmp_path):
    from dabstract_spark.operators.dedup import decontaminate, normalize_text
    from dabstract_spark.operators.text import gopher_rules
    from dabstract_spark.streaming.ops import curate_stream, stream_events

    gkw = dict(min_words=10, max_words=90, min_wlen_ppm=3_000_000, max_wlen_ppm=8_000_000)
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    keep = gopher_rules(train, "doc_id", "text", **gkw).filter(F.col("keep")).select("doc_id")
    batch = sorted(
        r.content_md5
        for r in decontaminate(
            train.join(keep, "doc_id", "left_semi"), test, "doc_id", "text", k=5
        )
        .select(F.md5(normalize_text("text")).alias("content_md5"))
        .distinct()
        .collect()
    )
    src = stream_events(spark, f"{SF}/documents.parquet").filter(F.col("doc_id") % 5 != 0)
    got = curate_stream(
        src, test, "doc_id", "text",
        str(tmp_path / "out"), str(tmp_path / "ckpt"), k=5, gopher_kwargs=gkw,
    )
    assert sorted(r.content_md5 for r in got.collect()) == batch
    assert len(batch) > 0


def test_stream_neardup_ingest_equals_batch(spark, tmp_path):
    from dabstract_spark.operators.dedup import minhash_bands
    from dabstract_spark.streaming.ops import neardup_ingest_stream, stream_events

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 == 0)
    new_b = docs.filter(F.col("doc_id") % 3 != 0)
    cb = minhash_bands(corpus, "doc_id", "text").withColumnRenamed("doc_id", "cid")
    nb = minhash_bands(new_b, "doc_id", "text")
    batch = sorted(
        (r.doc_id, r.cid)
        for r in nb.join(cb, ["band_id", "band_hash"]).select("doc_id", "cid").distinct().collect()
    )
    src = stream_events(spark, f"{SF}/documents.parquet").filter(F.col("doc_id") % 3 != 0)
    got = neardup_ingest_stream(
        src, corpus, "doc_id", "text",
        str(tmp_path / "out"), str(tmp_path / "ckpt"), max_bucket=None,
    )
    assert sorted((r.new_id, r.corpus_id) for r in got.collect()) == batch
    assert len(batch) > 0


def test_calibration_stream_tolerates_legacy_sink(spark, tmp_path):
    """Regression (r9 ADVICE): a sink directory written by the
    pre-(run_id, batch_id) calibration_stream has no replay markers —
    the merge must fall back to the plain merge-by-sum for those rows
    instead of failing with an AnalysisException, and the legacy
    partials must still count in the merged table."""
    from dabstract_spark.streaming.ops import calibration_stream, stream_events

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # legacy-format partials: (group, bucket, n) only, two "batches"
    # that share a (group, bucket) cell — a marker-keyed dedup with a
    # shared NULL marker would swallow one of them
    legacy = spark.createDataFrame(
        [("en", 3, 7), ("en", 3, 5), ("de", 1, 2)],
        "lang string, bucket int, n bigint",
    )
    legacy.write.mode("append").parquet(out)

    src = stream_events(spark, f"{SF}/documents.parquet").select(
        "lang", (F.length("text") % 1000).alias("score")
    )
    merged = calibration_stream(
        src, "lang", "score", out, ckpt, max_score=1000
    )
    got = {(r.lang, r.bucket): r.n for r in merged.collect()}
    # fresh-drain truth from the batch twin over the same source
    batch = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("lang", (F.length("text") % 1000).alias("score"))
        .select(
            "lang",
            F.least(
                F.lit(255), F.greatest(F.lit(0), (F.col("score") / 4).cast("int"))
            ).alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .count()
    )
    want = {(r.lang, r.bucket): r["count"] for r in batch.collect()}
    want[("en", 3)] = want.get(("en", 3), 0) + 12  # both legacy batches
    want[("de", 1)] = want.get(("de", 1), 0) + 2
    assert got == want


def test_file_sink_killed_mid_drain_recovers_exactly_once(spark, tmp_path):
    """Crash-recovery proof for the q109 exactly-once claim: the drain
    is KILLED mid-stream (time-ordered 8-file backlog at one file per
    micro-batch, stopped as soon as a batch commits), restarted from
    the SAME checkpoint + sink, and the final sink must equal the batch
    aggregate — no lost windows, no duplicated windows. The file sink's
    _spark_metadata transaction log must discard any files the killed
    run wrote past its last committed batch."""
    import time

    from dabstract_spark.streaming.ops import (
        run_to_parquet,
        stream_events,
        tumbling_agg_stream,
    )

    from pyspark.sql import Window

    ev = load_table(spark, SF, "events")
    src_dir = str(tmp_path / "src")
    # time-ordered file split: no late data, so watermark 0 drops nothing
    ev.withColumn(
        "__f", F.ntile(8).over(Window.partitionBy(F.lit(0)).orderBy("ts"))
    ).repartition(1).sortWithinPartitions("ts").write.partitionBy("__f").parquet(src_dir)

    path, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        agg = tumbling_agg_stream(
            stream_events(spark, src_dir, max_files_per_trigger=1),
            width="1 hour",
            watermark="0 seconds",
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # kill as soon as at least one micro-batch has committed
        deadline = time.time() + 120
        while q.isActive and (q.lastProgress is None or q.lastProgress["batchId"] < 1):
            if time.time() > deadline:
                q.stop()
                raise TimeoutError("no micro-batch committed within 120s")
            time.sleep(0.02)
        interrupted_midway = q.isActive
        q.stop()
        q.awaitTermination(60)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # restart from the same checkpoint: resumes after the last committed
    # batch and drains the rest
    agg2 = tumbling_agg_stream(
        stream_events(spark, src_dir, max_files_per_trigger=1),
        width="1 hour",
        watermark="0 seconds",
    )
    got = run_to_parquet(agg2, path, ckpt)

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    expected = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .filter(F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR") <= F.lit(max_ts))
    )
    g = sorted(map(tuple, got.drop("__f", "f").collect()), key=str)
    e = sorted(map(tuple, expected.collect()), key=str)
    assert g == e and len(g) > 0
    # the stop MUST have landed mid-drain (8 one-file micro-batches at
    # ~0.5s each vs a 20ms poll): a drain that completes before the
    # kill would silently degrade this to a restart-no-op check and
    # stop proving recovery at all
    assert interrupted_midway, (
        "drain finished before the kill landed — the backlog is too "
        "small/fast for this box; grow the file count so the test "
        "exercises a genuine mid-drain crash"
    )


def test_rollup_partials_replayed_batch_collapses(spark, tmp_path):
    """q218's signed partials under replay: foreachBatch is
    at-least-once, so a crash between the sink append and the
    checkpoint commit re-appends an identical (run_id, batch_id)
    partial on restart. Simulate exactly that re-append byte-for-byte,
    then assert (a) the marker dedup collapses it — the maintained view
    still equals the batch recompute — and (b) WITHOUT the dedup the
    replayed delta would corrupt the sums (the marker is load-bearing,
    not decorative)."""
    from dabstract_spark.operators.quality import apply_rollup_delta, maintain_rollup
    from dabstract_spark.streaming.ops import (
        dedup_marked_partials,
        rollup_maintain_stream,
        stream_events,
    )

    orders = load_table(spark, SF, "orders").select(
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
            base.filter(F.col("o_orderkey") % 13 == 0).withColumn("op", F.lit("delete"))
        )
        .select("op", "o_custkey", "total")
    )
    ddir, out, ckpt = (str(tmp_path / d) for d in ("delta", "out", "ckpt"))
    delta.repartition(4).write.parquet(ddir)
    partials = rollup_maintain_stream(
        stream_events(spark, ddir, max_files_per_trigger=1),
        ["o_custkey"],
        ["total"],
        out,
        ckpt,
    )
    assert {"run_id", "batch_id"}.isdisjoint(set(partials.columns))

    # replay: re-append one batch's rows VERBATIM (same run_id/batch_id)
    sink = spark.read.parquet(out)
    max_bid = sink.agg(F.max("batch_id")).collect()[0][0]
    sink.filter(F.col("batch_id") == max_bid).write.mode("append").parquet(out)

    replayed = spark.read.parquet(out)
    merged = (
        dedup_marked_partials(replayed, ["o_custkey"])
        .groupBy("o_custkey")
        .agg(F.sum("dcnt").alias("dcnt"), F.sum("d_total").alias("d_total"))
    )
    live = apply_rollup_delta(view, merged, ["o_custkey"], ["total"])
    batch = maintain_rollup(view, delta, ["o_custkey"], ["total"])
    lm = sorted(map(tuple, live.collect()), key=str)
    bm = sorted(map(tuple, batch.collect()), key=str)
    assert lm == bm and len(lm) > 0

    # (b) without the dedup the replayed batch double-counts
    naive = (
        replayed.groupBy("o_custkey")
        .agg(F.sum("dcnt").alias("dcnt"), F.sum("d_total").alias("d_total"))
    )
    nm = sorted(
        map(tuple, apply_rollup_delta(view, naive, ["o_custkey"], ["total"]).collect()),
        key=str,
    )
    assert nm != bm


def test_run_to_memory_leaves_unset_shuffle_partitions_unset(spark):
    """A drain right-sizes ``spark.sql.shuffle.partitions`` for its own
    run only: a key that was unset before the drain is unset after it
    (not pinned to its read-back default), and a set key gets its own
    value back."""
    k = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(k, None)
    try:
        spark.conf.unset(k)
        run_to_memory(_events_stream(spark).select("event_id"))
        assert spark.conf.get(k, None) is None
        spark.conf.set(k, "5")
        run_to_memory(_events_stream(spark).select("event_id"))
        assert spark.conf.get(k) == "5"
    finally:
        if saved is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, saved)
