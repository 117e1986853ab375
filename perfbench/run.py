"""sparkdab benchmark: closed-loop passes over a workload of catalog queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload dataset_prep --seed 1 --seconds 10 --trace 0

One process, one client, one operation at a time: an operation is the
catalog query function, which builds the plan, then the noop sink
``bench.py`` uses, and the next starts only when it has finished. The
seed shuffles the order of the operations in every pass.

A run:

1. pins the environment and makes a fresh scratch directory,
2. sets up: session, first touch of every table the workload reads
   through ``load_table`` (re-layout and hot-cache fill), and the Python
   worker pool (``setup_s``),
3. warms up with three untimed passes: a cold correctness pass that
   collects every operation and compares it with its DuckDB oracle
   answer, then two passes through the noop sink,
4. runs ``round(seconds / nominal pass time)`` whole timed passes,
5. writes a self-describing record under ``perfbench/records/`` and
   prints the result as the last line of standard output.

With ``--trace 1`` the timed passes are split: half run as above, then
the session restarts with Spark's event log on and the other half run
with the counters of ``tracing.py``; the per-layer metrics come from
those traced passes and ``eventlog.py``.

Failures: every operation has a timeout; a failed or timed-out
operation counts once in ``failed`` and gives no latency sample.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict, dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]

import eventlog  # noqa: E402
from plan_inventory import SF_SMOKE  # noqa: E402
from tracing import LoadTableProbe, Py4jTap  # noqa: E402
from workloads import NOMINAL_PASS_S, WORKLOADS  # noqa: E402

# the read-only sf0.1 fixture tables (TESTDATA.md), beside the sf0.001
# smoke fixtures the tools use
SF_DIR = str(Path(SF_SMOKE).with_name("sf0.1"))



def process_start() -> float:
    """Epoch time this process started, so that set-up time includes the
    interpreter start and the imports."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_PROCESS = process_start()
OP_TIMEOUT_S = 60
# no operation starts after this many seconds of measurement work, so a
# run that goes wrong still ends well inside the 180 s a run may take
RUN_DEADLINE_S = 140
DRIVER_MEMORY = "4g"
TAIL_MIN_BEYOND = 10
# how far a job or stream batch the event log attributes to an op may end
# after the call it ran under returned: the log's millisecond timestamps
# plus the benchmark's timer reads
ACCOUNT_TOL_S = 0.005


class OpTimeout(Exception):
    """Raised from SIGALRM inside a running operation (a plain Exception,
    so py4j closes the interrupted connection instead of reusing it)."""


@dataclass
class OpRun:
    op: str
    start: float  # epoch seconds, query function call opens
    build_end: float = 0.0
    end: float = 0.0
    error: str | None = None
    py4j_build: int = 0
    py4j_exec: int = 0
    load_table: tuple = (0, 0.0, 0)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def build_wall(self) -> float:
        return self.build_end - self.start

    @property
    def exec_wall(self) -> float:
        return self.end - self.build_end


@dataclass
class Pass:
    kind: str  # "correctness", "warmup", "timed", "traced"
    order: list
    start: float = 0.0
    end: float = 0.0
    ops: list = field(default_factory=list)
    cache_mb: float | None = None
    scratch_mb: float | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def clean(self) -> bool:
        """Without a failed operation: its wall is a pass time."""
        return all(o.error is None for o in self.ops)


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it: the
    nearest-rank value at rank n - 10 (the largest sample if n <= 10)."""
    s = sorted(samples)
    k = len(s) - TAIL_MIN_BEYOND if len(s) > TAIL_MIN_BEYOND else len(s)
    return {
        "value": s[k - 1],
        "percentile": 100.0 * k / len(s),
        "beyond": len(s) - k,
        "samples": len(s),
    }


def dir_mb(path: Path) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / eventlog.MB


def cpu_steal_s() -> float | None:
    """CPU time the hypervisor took from this machine's CPUs since boot,
    summed over CPUs (the steal column of /proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return None


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, args, run_dir: Path):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.scratch = run_dir / "scratch"
        self.rng = random.Random(args.seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.pins = self._pin_env()
        self.spark = None
        self.passes: list[Pass] = []
        self.setup: dict = {}
        self.checks: dict = {}
        self.attempted = 0
        self.failed = 0
        self.deadline = None
        self._expired = False
        self._armed = False
        self._stopped: list = []
        self.conf: dict = {}
        self.event_dir = run_dir / "eventlog"
        self.tap = None
        self.probe = None
        self.names: dict = {}
        self.tables_loaded = None
        self.resetup = None
        self.oracle_s = None
        self.oracle_computed = None

    # ------------------------------------------------------------ set-up
    def _pin_env(self) -> dict:
        tmp = self.run_dir / "tmp"
        for d in (self.scratch, tmp):
            d.mkdir(parents=True, exist_ok=True)
        pins = {
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_GRAFT_SCRATCH": str(self.scratch),
            "SPARK_LOCAL_DIRS": str(self.scratch),
            "TMPDIR": str(tmp),
            # every JVM the run starts (the launcher and the driver) keeps its
            # temp files in the run dir and writes no hsperfdata file
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}",
            "PYTHONPATH": str(ROOT),
            "PYSPARK_PYTHON": sys.executable,
        }
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]  # no inherited knob may change what runs
        os.environ.update(pins)
        return pins

    def _spark_conf(self, traced: bool) -> dict:
        conf = {
            "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if traced:
            self.event_dir.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    # plain JSON lines: the default zstd codec needs a native library
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": self.event_dir.as_uri(),
                }
            )
        return conf

    def start_session(self, traced: bool, t_origin: float) -> dict:
        """Session, first touch of the workload's tables, worker pool.
        Returns the set-up breakdown, timed from ``t_origin``."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        import dabstract_spark.session as session

        t0 = time.time()
        self.conf = self._spark_conf(traced)
        self.spark = session.get_spark(f"perfbench-{self.args.workload}", extra_conf=self.conf)
        t1 = time.time()
        touch = {}
        for name in self.workload.tables:
            ts = time.time()
            df = session.load_table(self.spark, self.args.sf_dir, name)
            if df.is_cached:
                df.count()  # fill the hot-table cache
            touch[name] = time.time() - ts
        t2 = time.time()

        @pandas_udf("double")
        def _warm(s):
            return s

        self.spark.range(256).select(_warm(F.col("id").cast("double"))).write.format(
            "noop"
        ).mode("overwrite").save()
        t3 = time.time()
        return {
            "setup_s": t3 - t_origin,
            "session_s": t1 - t0,
            "first_touch_s": touch,
            "workers_s": t3 - t2,
        }

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            # load_table keys its caches by id(session): keep the stopped
            # session alive so a new one can never reuse its id
            self._stopped.append(self.spark)
            self.spark = None

    # ------------------------------------------------------- operations
    def _on_alarm(self, signum, frame):
        if self._armed:
            self._expired = True
            raise OpTimeout("operation exceeded its timeout")

    def _recover(self) -> None:
        """After a timeout: cancel the op's jobs and stop its streams."""
        try:
            self.spark.sparkContext.cancelAllJobs()
            for q in self.spark.streams.active:
                q.stop()
        except Exception:  # noqa: BLE001 - the run must go on and report
            log("recovery after timeout failed:\n" + traceback.format_exc())

    def run_op(self, op: str, sink) -> tuple[OpRun, object]:
        fn = self.queries[op]
        remaining = self.deadline - time.time()
        rec = OpRun(op=op, start=time.time())
        if remaining <= 0:
            rec.build_end = rec.end = rec.start
            rec.error = "skipped: run deadline passed"
            self.attempted += 1
            self.failed += 1
            return rec, None
        out = None
        self._expired = False
        n0 = self.tap.count if self.tap else 0
        lt0 = self.probe.snapshot() if self.probe else (0, 0.0, 0)
        # re-fires every second, in case the op swallows the first one
        self._armed = True
        signal.setitimer(signal.ITIMER_REAL, min(OP_TIMEOUT_S, remaining), 1.0)
        try:
            rec.start = time.time()
            df = fn(self.spark, self.args.sf_dir)
            rec.build_end = time.time()
            n1 = self.tap.count if self.tap else 0
            out = sink(df)
            rec.end = time.time()
        except Exception as exc:  # noqa: BLE001 - count it, keep running
            self._armed = False
            rec.error = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            self._armed = False
            signal.setitimer(signal.ITIMER_REAL, 0)
        if self._expired and rec.error is None:
            rec.error = "OpTimeout: timed out (exception swallowed by the op)"
        if rec.error is not None:
            now = time.time()
            rec.build_end = rec.build_end or now
            rec.end = now
            if self._expired:
                self._recover()
        else:
            if self.tap:
                rec.py4j_build, rec.py4j_exec = n1 - n0, self.tap.count - n1
            if self.probe:
                lt1 = self.probe.snapshot()
                rec.load_table = tuple(b - a for a, b in zip(lt0, lt1))
        self.attempted += 1
        if rec.error is not None:
            self.failed += 1
            log(f"{op} failed: {rec.error}")
        return rec, out

    @staticmethod
    def _noop(df):
        # noop sink: computes every output column (count() would let
        # Catalyst prune the projections)
        df.write.format("noop").mode("overwrite").save()

    @staticmethod
    def _collect(df):
        from oracle import answer

        return answer(df.columns, [tuple(r) for r in df.collect()])

    def run_pass(self, kind: str, sink=None) -> Pass:
        """One pass over the workload in seeded order."""
        order = list(self.workload.ops)
        self.rng.shuffle(order)
        p = Pass(kind=kind, order=order, start=time.time())
        results = {}
        for op in order:
            rec, out = self.run_op(op, sink or self._noop)
            p.ops.append(rec)
            results[op] = out
        p.end = time.time()
        if kind == "traced":
            p.cache_mb = self._cache_mb()
            p.scratch_mb = dir_mb(self.scratch)
        self.passes.append(p)
        log(f"{kind} pass {p.wall:.2f}s ({len(p.ops)} ops)")
        return p, results

    def timed_passes(self, kind: str, seconds: float) -> list[Pass]:
        """Whole passes filling about ``seconds`` at the nominal pass
        time. The count is fixed by the arguments, not by the clock,
        so every run of a workload does the same work and samples every
        op equally often."""
        n = max(1, round(seconds / NOMINAL_PASS_S))
        return [self.run_pass(kind)[0] for _ in range(n)]

    # ------------------------------------------------------ correctness
    def correctness_pass(self, oracles) -> Pass:
        from oracle import mismatch

        p, results = self.run_pass("correctness", sink=self._collect)
        for rec in p.ops:
            if rec.error is not None:
                self.checks[rec.op] = {"status": "unchecked", "why": rec.error}
                continue
            why = mismatch(results[rec.op], oracles[rec.op])
            self.checks[rec.op] = {"status": "wrong" if why else "ok", "why": why}
            if why:
                log(f"{rec.op} WRONG: {why}")
        return p

    # ----------------------------------------------------------- traced
    def _cache_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / eventlog.MB

    def _jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def layers(self, traced: list[Pass], untraced_pass_s: float, warmup_s: float,
               peak_rss: float) -> tuple[dict, list]:
        windows = [
            eventlog.Window(r.op, r.start * 1000.0, r.build_end * 1000.0, r.end * 1000.0)
            for p in traced
            for r in p.ops
        ]
        attribution = eventlog.attribute(eventlog.read_events(self.event_dir), windows)
        attributed = attribution.ops
        per_op, per_pass, k = [], [], 0
        for p in traced:
            agg: dict[str, float] = {}
            for r in p.ops:
                a = attributed[k]
                k += 1
                eager = min(a.eager_s, r.build_wall)
                row = {
                    "op": r.op,
                    "wall_s": r.wall,
                    "build.s": r.build_wall - eager,
                    "build.py4j_calls": r.py4j_build,
                    "eager.jobs": a.eager_jobs,
                    "eager.s": eager,
                    "exec.s": r.exec_wall,
                    "exec.jobs": a.exec_jobs,
                    "exec.py4j_calls": r.py4j_exec,
                    "spark.stages": a.stages,
                    "spark.tasks": a.tasks,
                    "task.run_s": a.task_run_s,
                    "task.cpu_s": a.task_cpu_s,
                    "task.gc_s": a.task_gc_s,
                    "shuffle.read_mb": a.shuffle_read_mb,
                    "shuffle.write_mb": a.shuffle_write_mb,
                    "input.mb": a.input_mb,
                    "output.mb": a.output_mb,
                    "spill.mb": a.spill_mb,
                    "python.run_s": a.python_run_s,
                    "python.start_s": a.python_start_s,
                    "python.io_mb": a.python_io_mb,
                    "stream.queries": a.stream_queries,
                    "stream.batches": a.stream_batches,
                    "stream.batches_idle": a.stream_batches_idle,
                    "stream.trigger_ms": a.stream_trigger_ms,
                    "stream.planning_ms": a.stream_planning_ms,
                    "stream.addbatch_ms": a.stream_addbatch_ms,
                    "stream.walcommit_ms": a.stream_walcommit_ms,
                    "stream.commit_ms": a.stream_commit_ms,
                    "stream.state_commit_ms": a.stream_state_commit_ms,
                    "stream.state_instances": a.stream_state_instances,
                    "load_table.calls": r.load_table[0],
                    "load_table.s": r.load_table[1],
                    "load_table.reused": r.load_table[2],
                    "error": r.error,
                }
                row["overrun_s"] = None if a.overrun_ms is None else a.overrun_ms / 1000.0
                per_op.append(row)
                if r.error is None:
                    for key, v in row.items():
                        if key in PER_LAYER_UNITS:
                            agg[key] = agg.get(key, 0.0) + v
            agg["cpu_util"] = agg.get("task.cpu_s", 0.0) / (p.wall * self.cpus)
            agg["cache.mb"] = p.cache_mb
            agg["scratch.mb"] = p.scratch_mb
            if p.clean:
                per_pass.append(agg)
        if not per_pass:
            raise RuntimeError("no traced pass completed without a failure")
        metrics = {key: statistics.median(pp[key] for pp in per_pass) for key in per_pass[0]}
        traced_pass_s = statistics.median(p.wall for p in traced if p.clean)
        metrics["jvm.peak_rss_mb"] = peak_rss
        metrics["warmup_pass_s"] = warmup_s
        metrics["trace.overhead"] = traced_pass_s / untraced_pass_s
        overruns = [r["overrun_s"] for r in per_op if r["overrun_s"] is not None]
        accounting = {
            "tolerance_s": ACCOUNT_TOL_S,
            "max_overrun_s": max(overruns) if overruns else None,
            "ops_over_tolerance": sum(o > ACCOUNT_TOL_S for o in overruns),
            "orphan_jobs": len(attribution.orphan_jobs),
        }
        return metrics, per_op, accounting

    # -------------------------------------------------------------- run
    def run(self) -> dict:
        from __spark_entry__ import oracle_sql, queries

        import oracle

        qs = queries()
        by_prefix = {n.split("_", 1)[0]: n for n in qs}
        self.names = {op: by_prefix[op] for op in self.workload.ops}
        self.queries = {op: qs[n] for op, n in self.names.items()}
        sqls = oracle_sql()
        signal.signal(signal.SIGALRM, self._on_alarm)

        self.setup = self.start_session(traced=False, t_origin=T_PROCESS)
        log(f"setup {self.setup['setup_s']:.2f}s")

        cache = oracle.OracleCache(self.args.sf_dir, HERE / ".cache" / "oracle")
        t = time.time()
        try:
            expected = {op: cache.expected(sqls[n]) for op, n in self.names.items()}
        finally:
            cache.close()
        self.oracle_s = time.time() - t
        self.oracle_computed = cache.computed

        self.deadline = time.time() + RUN_DEADLINE_S
        warm = self.correctness_pass(expected)
        # the JIT keeps warming: pass times still fall 5-10% from one pass
        # to the next after the collect pass, so two noop passes go before
        # the timed ones
        for _ in range(2):
            self.run_pass("warmup")
        seconds = self.args.seconds / 2 if self.args.trace else self.args.seconds
        timed = self.timed_passes("timed", seconds)
        result = {"timed": timed, "warmup_s": warm.wall}
        if self.args.trace:
            self.stop_session()
            self.resetup = self.start_session(traced=True, t_origin=time.time())
            # the new context re-pays first-use costs; keep them out of
            # the comparison with the untraced passes
            self.run_pass("rewarm")
            with Py4jTap() as self.tap, LoadTableProbe() as self.probe:
                result["traced"] = self.timed_passes("traced", seconds)
                self.tables_loaded = sorted(self.probe.names)
            self.tap = self.probe = None
            result["peak_rss"] = self._jvm_peak_rss_mb()
        return result


def summarize(bench: Bench, res: dict) -> tuple[dict, dict]:
    timed = res["timed"]
    # a pass with a failed or skipped op is shorter than a whole one: with
    # no clean pass there is no pass time (the result's failed count says why)
    clean = [p.wall for p in timed if p.clean]
    samples = [o.wall for p in timed for o in p.ops if o.error is None]
    end_to_end = {
        "setup_s": {"value": bench.setup["setup_s"], "unit": "s"},
        "pass_s": {"value": statistics.median(clean) if clean else float("nan"), "unit": "s"},
    }
    # recorded, not reported: the median op is one op (q82 on dataset_prep),
    # so op_p50_s follows that op's per-JVM latency level; and a run has too
    # few samples for a real tail
    extra = {
        "op_p50_s": statistics.median(samples) if samples else None,
        "op_tail": tail(samples) if samples else None,
    }
    if bench.args.trace:
        metrics, per_op, accounting = bench.layers(
            res["traced"], end_to_end["pass_s"]["value"], res["warmup_s"], res["peak_rss"]
        )
        extra["per_op_layers"] = per_op
        extra["accounting"] = accounting
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        out = end_to_end
    extra["end_to_end"] = end_to_end
    return out, extra


def _unit(name: str) -> str:
    if name.endswith("_mb") or name.endswith(".mb"):
        return "MB"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(".s") or name.endswith("_s"):
        return "s"
    if name in ("cpu_util", "trace.overhead"):
        return "ratio"
    return "count"


PER_LAYER_NAMES = (
    "build.s", "build.py4j_calls", "eager.jobs", "eager.s",
    "stream.queries", "stream.batches", "stream.batches_idle", "stream.trigger_ms",
    "stream.planning_ms", "stream.addbatch_ms", "stream.walcommit_ms", "stream.commit_ms",
    "stream.state_commit_ms", "stream.state_instances",
    "exec.s", "exec.jobs", "exec.py4j_calls",
    "spark.stages", "spark.tasks", "task.run_s", "task.cpu_s", "task.gc_s", "cpu_util",
    "shuffle.read_mb", "shuffle.write_mb", "input.mb", "output.mb", "spill.mb",
    "python.run_s", "python.start_s", "python.io_mb",
    "load_table.calls", "load_table.s", "load_table.reused", "cache.mb", "scratch.mb",
    "jvm.peak_rss_mb", "warmup_pass_s", "trace.overhead",
)
PER_LAYER_UNITS = {n: _unit(n) for n in PER_LAYER_NAMES}


def write_record(bench: Bench, result: dict, extra: dict, load_before, steal_before,
                 error: str | None) -> Path:
    from check_oracle import engine_digest, fixture_digest

    steal = cpu_steal_s()

    import pyspark

    rec = {
        "workload": bench.args.workload,
        "seed": bench.args.seed,
        "seconds": bench.args.seconds,
        "trace": bench.args.trace,
        "cpus": bench.cpus,
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(T_PROCESS)),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "engine_digest": engine_digest(ROOT),
        "sf_dir": bench.args.sf_dir,
        "fixture_digest": fixture_digest(bench.args.sf_dir),
        "load_avg_before": load_before,
        "load_avg_after": os.getloadavg(),
        # CPU time stolen by the host during the run: a run that lost
        # seconds here measured the host, not the program
        "cpu_steal_s": None if steal is None or steal_before is None else steal - steal_before,
        "env_pins": bench.pins,
        "spark_conf_extra": bench.conf,
        "ops": bench.names,
        "tables": list(bench.workload.tables),
        "tables_loaded": bench.tables_loaded,
        "setup": bench.setup,
        "resetup": bench.resetup,
        "oracle_s": bench.oracle_s,
        "oracle_computed": bench.oracle_computed,
        "checks": bench.checks,
        "passes": [
            {
                "kind": p.kind,
                "wall_s": p.wall,
                "order": p.order,
                "cache_mb": p.cache_mb,
                "scratch_mb": p.scratch_mb,
                "ops": [dict(asdict(o), wall_s=o.wall) for o in p.ops],
            }
            for p in bench.passes
        ],
        "result": result,
        "error": error,
        **extra,
    }
    out_dir = HERE / "records"
    out_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(T_PROCESS))
    path = out_dir / f"{bench.args.workload}_seed{bench.args.seed}_trace{bench.args.trace}_{stamp}_{os.getpid()}.json"
    with open(path, "x") as fh:  # never overwrite an earlier record
        json.dump(rec, fh, indent=1, default=str)
    return path


def shutdown_jvm() -> None:
    """Stop the JVM pyspark launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the process is what matters
            pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.sf_dir = SF_DIR

    # the program and its fixtures must exist; without them there is
    # nothing to measure and no result is printed
    import dabstract_spark  # noqa: F401
    import __spark_entry__  # noqa: F401
    from oracle import OracleCache  # noqa: F401

    if not Path(args.sf_dir, "lineitem.parquet").exists():
        raise SystemExit(f"fixtures not found under {args.sf_dir}")

    load_before, steal_before = os.getloadavg(), cpu_steal_s()
    run_dir = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}-{int(T_PROCESS)}"
    bench = Bench(args, run_dir)
    res, error = None, None
    try:
        res = bench.run()
    except Exception:  # noqa: BLE001 - still emit what was measured
        error = traceback.format_exc()
        log(error)
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        try:
            bench.stop_session()
        finally:
            shutdown_jvm()

    timed_ok = res is not None and bool(res.get("timed"))
    result_metrics, extra = {}, {}
    if timed_ok:
        try:
            result_metrics, extra = summarize(bench, res)
        except Exception:  # noqa: BLE001 - still emit the result
            error = (error or "") + traceback.format_exc()
            log(error)
    status = [c["status"] for c in bench.checks.values()]
    n_checked = sum(st != "unchecked" for st in status)
    acc = extra.get("accounting")
    # a traced run whose event log does not fit the measured walls has
    # per-layer figures that cannot be trusted
    accounted = acc is None or (acc["ops_over_tolerance"] == 0 and acc["orphan_jobs"] == 0)
    if not accounted:
        log(f"per-layer accounting failed: {acc}")
    result = {
        # every op checked against its oracle and none differed, every
        # metric computed, and (traced) every op's spans accounted for
        "correct": bool(result_metrics)
        and accounted
        and status.count("ok") == len(bench.workload.ops),
        "attempted": max(1, bench.attempted),
        "failed": bench.failed if bench.attempted else 1,
        "metrics": result_metrics,
    }
    extra["ops_failed"] = bench.failed / max(1, bench.attempted)
    extra["wrong_results"] = status.count("wrong") / max(1, n_checked)
    try:
        path = write_record(bench, result, extra, load_before, steal_before, error)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"record {path.relative_to(ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
