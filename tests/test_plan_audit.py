"""Physical-plan audits over the whole query catalog.

Backs the scale-posture claims in README.md: every catalog query must
stay JVM-side (no row-at-a-time Python anywhere; Arrow pandas UDFs only
in the operators that genuinely need numpy/scipy), and predicate
pushdown must reach the parquet scan where a query filters a source
column.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

# Queries whose plans legitimately contain an Arrow-vectorized Python
# stage (numpy/scipy DSP with no Spark primitive). Everything else must
# be pure JVM.
ARROW_OK = {
    "q65_fft_magnitude",  # np.fft.rfft pandas UDF
    "q83_resample",  # scipy.signal.resample pandas UDF
    "q122_wav_decode",  # stdlib wave-parse pandas UDF (binary PCM decode)
    "q125_npy_decode",  # np.load pandas UDF (npy container decode)
    "q139_semantic_dedup",  # per-cluster blocked GEMM (BLAS pair search)
    "q175_audio_pipeline",  # wav-decode + np.fft.rfft pandas UDFs (end-to-end chain)
    "q185_image_decode_fake",  # image-decode pandas UDF (md5-fake codec, real plumbing)
    "q219_image_resize",  # same decode UDF; the resize itself is a pure-JVM gather
    "q241_image_ahash_neardup",  # same decode UDF; aHash + banding are pure JVM
    "q186_video_frames_fake",  # video-frame pandas UDF (md5-fake codec, real plumbing)
    "q252_vad_segments",  # same wav-decode UDF; framing/energy/segments are pure JVM
    "q253_audio_fingerprint_dedup",  # same wav-decode UDF; fingerprint is pure JVM
}
# q179_pca_projection's blocked int64 scatter GEMM is ALSO an Arrow stage,
# but it executes as a build-time job (its partials are collected while
# constructing the projection plan), so the query's FINAL plan is pure JVM
# and it intentionally does not appear above.

# Row-at-a-time Python (BatchEvalPython / PythonUDF in a non-Arrow
# stage) is never acceptable.
FORBIDDEN = ("BatchEvalPython",)
ARROW_MARKERS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")

# Eager catalog entries execute jobs at DataFrame-build time (writes,
# checkpointed loops, exact-count sampling); their *final* plan is still
# audited, the intermediate jobs just make them slower to build.
# None are excluded — the audit runs the full catalog.


def _plans(spark):
    from __spark_entry__ import queries

    for name, fn in sorted(queries().items()):
        df = fn(spark, SF_SMOKE)
        yield name, df._jdf.queryExecution().executedPlan().toString()


def test_no_python_row_stage_anywhere(spark):
    """No catalog query may route rows through non-Arrow Python."""
    bad = []
    for name, plan in _plans(spark):
        if any(m in plan for m in FORBIDDEN):
            bad.append(name)
    assert bad == [], f"row-at-a-time Python stages in: {bad}"


def test_arrow_stages_only_where_declared(spark):
    """Arrow pandas-UDF stages appear only in the DSP queries that need
    numpy/scipy, and each declared query really has one (no stale
    allowlist)."""
    seen = set()
    for name, plan in _plans(spark):
        if any(m in plan for m in ARROW_MARKERS):
            seen.add(name)
    undeclared = seen - ARROW_OK
    stale = ARROW_OK - seen
    assert not undeclared, f"unexpected Python stages in: {sorted(undeclared)}"
    assert not stale, f"declared-but-absent Arrow stages: {sorted(stale)}"


@pytest.mark.parametrize(
    "qname,expect",
    [
        ("q11_select_isin", "PushedFilters: ["),  # isin pushes to the scan
        ("q22_threshold_subsample", "Scan parquet"),
    ],
)
def test_filters_reach_the_scan(spark, qname, expect):
    """Audited with the hot-table cache bypassed: the pushdown claim is
    about the fact-table path (tables above the cache budget scan
    parquet); at smoke scale every fixture would otherwise be cached and
    the scan under audit would be an InMemoryRelation."""
    from __spark_entry__ import queries

    from dabstract_spark.session import table_cache_disabled

    with table_cache_disabled():
        df = queries()[qname](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert expect in plan
    if qname == "q11_select_isin":
        # the In() predicate must be in the pushed list, not only post-scan
        scan = plan[plan.index("PushedFilters: [") :]
        assert "In(" in scan.split("]")[0]


@pytest.mark.parametrize(
    "qname",
    [
        "q21_metadata_join",  # small dim side must broadcast
        "q02_top_revenue_orders",  # customer side must broadcast
    ],
)
def test_small_dimension_joins_broadcast(spark, qname):
    """Dimension joins in the catalog must plan as broadcast hash joins —
    a shuffle join on a small dim side is the classic silent scale bug.
    (q123's stream-static enrichment join is hinted broadcast in the
    operator itself; its drained result is a memory-sink scan, so the
    batch queries carry this audit.)"""
    from __spark_entry__ import queries

    df = queries()[qname](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, f"{qname} lost its broadcast:\n{plan[:2000]}"


def test_no_data_scale_take_ordered(spark):
    """``orderBy().limit(k)`` plans a TakeOrderedAndProject: every
    partition's top-k funnels through one final reduction, fine for a
    constant small k (top-10 revenue) but a driver-side bottleneck when
    k is data-derived (a fraction of the rows — the bug the exact
    subsample used to have). Audit: any TakeOrdered in the catalog must
    carry a small literal limit."""
    import re

    bad = []
    for name, plan in _plans(spark):
        for m in re.finditer(r"TakeOrderedAndProject\s*\(limit=(\d+)", plan):
            if int(m.group(1)) > 1000:
                bad.append((name, int(m.group(1))))
    assert bad == [], f"data-scale TakeOrdered limits: {bad}"


def test_random_subsample_exact_is_distributed(spark):
    """The exact subsample must not plan a global sort-limit (TakeOrdered
    / GlobalLimit) — it ranks via bounded per-bucket windows and keeps
    rank <= ceil(n*ratio) computed inside the same plan."""
    from dabstract_spark.operators.select import random_subsample

    df = spark.range(500).select(F.col("id").alias("row_id"), (F.col("id") * 2).alias("v"))
    out = random_subsample(df, 0.25, seed=3, key="row_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" not in plan
    assert "GlobalLimit" not in plan
    assert out.count() == 125


def test_cms_estimate_broadcasts_sketch(spark):
    """The merged sketch is ≤ depth·width rows by construction — probing
    must plan a broadcast join, not shuffle the probe side."""
    from __spark_entry__ import queries

    df = queries()["q197_cms_token_counts"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_no_unpartitioned_window_in_source():
    """Every window in the engine must declare a partition spec — the
    bounded-by-construction tiny-table windows (256-row bucket-offset
    tables, super-block totals, fold/decile dictionaries) carry an
    explicit ``partitionBy(lit(0))``. A bare ``Window.orderBy(...)``
    anywhere in the source is either a new scale bug or an unannotated
    tiny-table window; both must be fixed at the source.

    This SOURCE-level audit is the real guard: Spark 4's
    EliminateWindowPartitions rule (SPARK-46941) folds constant
    partition specs back to empty, so the runtime "No Partition
    Defined" warning re-fires for every annotated tiny-table window
    regardless of what the source declares — which is why
    ``session.get_spark`` silences that one logger instead of chasing
    an unsuppressable warning."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "dabstract_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        for m in re.finditer(r"Window\s*\.\s*orderBy\(", src):
            line = src[: m.start()].count("\n") + 1
            offenders.append(f"{p.relative_to(root.parent)}:{line}")
    assert offenders == [], f"unpartitioned Window.orderBy at: {offenders}"


def test_decontaminate_no_cartesian(spark):
    """Decontamination must join on the shingle key only — any cartesian
    / broadcast nested loop over doc×doc is the scale bug it exists to
    avoid."""
    from __spark_entry__ import queries

    df = queries()["q204_decontaminate"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------- #
# Constant-key (partitionBy(lit(0))) window registry: every such window
# funnels its input through ONE task, so each site must have a bound on
# that input that does not grow with the data. The registry below turns
# each site's docstring argument into a machine-checked inventory — a
# new constant-key window anywhere in the engine fails this test until
# it is registered here with its bound (or redesigned).
#
# Bound kinds:
#   limit-k    — window input is the output of orderBy().limit(k)
#                (TakeOrderedAndProject), k a small literal; checked at
#                runtime below for the representative top-k rankers.
#   bucket     — fixed-domain bucket aggregate (256 md5-hex prefixes,
#                4·npart numeric bins, n_stages×256 composite).
#   codomain   — aggregate keyed on a value with a bounded codomain
#                (ppm scores ≤ 1e6 distinct; histogram `bins` rows).
#   contract   — distinct-key table that is human-scale by the
#                operator's documented contract (xval groups/items,
#                mixture components); each carries a docstring bound,
#                sequential_kfold-style.
WINDOW_LIT0_BOUNDS = {
    "core.py::bucketed_rank": (
        "bucket",
        "keyless ranks: ≤256 hex / 4·npart numeric buckets (with_row_id), "
        "256-row md5-prefix bucket counts (random_subsample, random_sample_n), "
        "n_stages×256 composite bucket counts (curriculum_order)",
    ),
    "operators/packing.py::block_prefix_sum": ("bucket", "~√n_blocks super-block totals (~233 at 16M rows/block)"),
    "operators/planning.py::budget_allocation": ("contract", "n_groups mixture components (docstring bound)"),
    "operators/planning.py::proportional_allocation": ("contract", "n_groups mixture components (docstring bound)"),
    "operators/sketches.py::hist_quantiles": ("codomain", "`bins` histogram rows (ungrouped branch)"),
    "operators/skew.py::key_skew_profile": ("limit-k", "top_k rows post-limit"),
    "operators/text.py::bm25_topk": ("limit-k", "k rows post-limit (TakeOrdered)"),
    "operators/text.py::perplexity_buckets": ("codomain", "distinct coherence_ppm values ≤1e6"),
    "operators/text.py::dsir_select": ("limit-k", "k rows post-limit"),
    "operators/text.py::collocations": ("limit-k", "top_k rows post-limit"),
    "operators/textstats.py::balance_from_counts": ("contract", "n_groups mixture components (docstring bound)"),
    "operators/textstats.py::zipf_card": ("limit-k", "top_n rows post-limit"),
    "operators/xval.py::group_random_kfold": ("contract", "distinct xval groups (reference contract)"),
    "operators/xval.py::xval_from_item": ("contract", "distinct fold items (reference contract)"),
    "queries_text.py::q177_heavy_hitters": ("limit-k", "≤50 CMS candidate rows (bounded upstream)"),
    "streaming/ops.py::weighted_sample_stream": ("limit-k", "n rows post-limit over a ≤ n·n_batches merged sink"),
}


def _window_lit0_sites():
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "dabstract_spark"
    # both spellings of a constant-key window: the Column form and the
    # SQL form used by the F.expr one-shot builders (r12 chatter cuts)
    pat = re.compile(
        r"Window\s*\.\s*partitionBy\(\s*F\.lit\(0\)\s*\)"
        r"|OVER\s*\(PARTITION BY 0[\s)]"
    )
    sites = set()
    for p in root.rglob("*.py"):
        src = p.read_text()
        hits = [src[: m.start()].count("\n") + 1 for m in pat.finditer(src)]
        if not hits:
            continue
        # INNERMOST function containing the line, keyed by its dotted
        # path — so a future window added inside a nested helper (e.g. a
        # foreachBatch _sink) gets its OWN registry key instead of
        # silently inheriting the outer function's bound
        spans = []

        def walk(node, prefix):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    name = f"{prefix}.{child.name}" if prefix else child.name
                    spans.append((name, child.lineno, child.end_lineno))
                    walk(child, name)
                else:
                    walk(child, prefix)

        walk(ast.parse(src), "")
        for ln in hits:
            containing = [
                (hi - lo, n) for n, lo, hi in spans if lo <= ln <= hi
            ]
            func = min(containing)[1] if containing else "<module>"
            sites.add(f"{p.relative_to(root).as_posix()}::{func}")
    return sites


def test_constant_key_windows_are_registered():
    """Source sweep: the set of constant-key window sites must equal the
    bound registry exactly — no unregistered site (a potential new
    single-task funnel), no stale registry row (a bound claim about
    code that no longer exists)."""
    found = _window_lit0_sites()
    registered = set(WINDOW_LIT0_BOUNDS)
    assert found - registered == set(), (
        f"unregistered constant-key window(s): {sorted(found - registered)} — "
        "add a bound to WINDOW_LIT0_BOUNDS or redesign the window"
    )
    assert registered - found == set(), (
        f"stale registry rows: {sorted(registered - found)}"
    )


@pytest.mark.parametrize(
    "qname,limit",
    [
        ("q170_bm25_topk", 10),  # the r9 negative control: used to window the corpus
        ("q259_dsir_selection", 50),
    ],
)
def test_topk_rankers_window_post_limit(spark, qname, limit):
    """Runtime check for the limit-k registry rows: the representative
    top-k rankers must plan a distributed TakeOrderedAndProject with a
    small literal limit BELOW the rank window — the window then runs
    over k rows, not the corpus. Spark 4's LimitPushDownThroughWindow
    happens to rewrite the literal `filter(rank <= k)` form into this
    same plan, so this test pins the SHAPE however it is produced: if a
    future edit defeats the rule (non-literal k, an intervening
    projection) while the source still relies on it, the TakeOrdered
    disappears and this fails."""
    import re

    from __spark_entry__ import queries

    df = queries()[qname](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"TakeOrderedAndProject\s*\(limit=(\d+)", plan)
    assert m, f"{qname}: no TakeOrderedAndProject below the rank window:\n{plan[:2000]}"
    assert int(m.group(1)) <= 1000
    if limit is not None:
        assert int(m.group(1)) == limit
    assert "Window" in plan  # the rank window survives, over k rows only


def test_streaming_queries_carry_stream_in_name():
    """The yardstick's batch/streaming floor split (tools/bench_oracle.py)
    classifies by name — every catalog query that drives a streaming op
    must carry 'stream' in its name (and the convention holds today:
    28/28). A drained streaming query misfiled as batch would silently
    pollute the batch family's warm ratio with drain floors."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "dabstract_spark"
    offenders = []
    for p in root.glob("queries_*.py"):
        src = p.read_text()
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name.startswith("q"):
                seg = ast.get_source_segment(src, node) or ""
                if (
                    "dabstract_spark.streaming" in seg or "stream_events" in seg
                ) and "stream" not in node.name:
                    offenders.append(f"{p.name}::{node.name}")
    assert offenders == [], f"streaming queries without 'stream' in name: {offenders}"
