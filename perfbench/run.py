#!/usr/bin/env python3
"""spark-graft benchmark: registered queries driven through the package API.

One closed-loop client thread runs every query of a workload against
``local[nproc]`` with the bench session profile (``enable_bench_tuning``).
One operation is construction plus collect,
``get_specs()[name].fn(spark, sf_dir).toPandas()``, so work a query does
eagerly while it is built (checkpoint rounds, streaming runs, sink writes)
is charged to it. Every result is compared with the DuckDB oracle outside
the timed region. ``--seed`` fixes the query order of every pass.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs untraced
and traced passes in turn and prints the per-layer metrics. The last stdout
line is one JSON object; a fuller record (environment, Spark confs,
per-operation samples) and, for traced runs, the spans are written under
``perfbench/.work/results``. README.md in this directory explains the
workloads and how to read the numbers.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path[:0] = [HERE, ROOT]

from tracer import (  # noqa: E402
    JOB_GROUP_PROP,
    PKG,
    Tracer,
    inclusive,
    job_stats,
    outermost,
    self_time,
)


#: Fixture scale directory both workloads read. A larger one does not fit the
#: run budget (README.md); ``--sf`` overrides it.
TIER = "sf0.01"


@dataclass(frozen=True)
class Workload:
    tag: str = ""  # registry tag that selects its queries ...
    names: tuple[str, ...] = ()  # ... or an explicit query list
    replay: bool = False  # stages the streaming replay directory in set-up


WORKLOADS = {
    "llm_dedup": Workload(tag="llm_bench"),
    "stream_sink": Workload(
        names=(
            "stream_tumbling_counts",
            "stream_dedup_events",
            "stream_rocksdb_windowed_counts",
            "stream_upsert_latest",
            "stream_checkpoint_restart",
            "partitioned_sink_events",
            "dynamic_partition_overwrite",
            "parquet_roundtrip_returns",
        ),
        replay=True,
    ),
}

#: Rows per partition of the CPU probe: ~0.2 s of xxhash per core.
CPU_PROBE_ROWS = 4_000_000


@contextmanager
def _no_span(_name):
    yield None


@dataclass
class Op:
    name: str
    group: str
    build_s: float = 0.0
    collect_s: float = 0.0
    rows: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    error: str | None = None
    span: object = None
    pdf: object = None

    @property
    def latency_s(self) -> float:
        return self.build_s + self.collect_s


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_env(run_dir: str) -> None:
    """Environment every run starts from; the JVM and Python workers inherit it."""
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # The inputs are a few MB. A small fixed heap keeps G1's heap growth, and
    # so peak RSS, alike from run to run (with 3g the JVM's peak RSS differed
    # by up to 40% between runs); the package default of 16g exceeds small
    # machines.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # Python workers import the package (pandas UDFs) from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def stage_fixtures(src: str, dst: str, floor: str) -> None:
    """Copy the fixtures into the checkout and write their 1-row copies.

    The 1-row copies keep every parquet logical type (pyarrow slice), so a
    pass over them runs the same plans on no data: the scheduling floor.
    """
    import pyarrow.parquet as pq

    for d in (dst, floor):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    for path in sorted(glob.glob(os.path.join(src, "*.parquet"))):
        fn = os.path.basename(path)
        shutil.copyfile(path, os.path.join(dst, fn))
        pq.write_table(pq.read_table(path).slice(0, 1), os.path.join(floor, fn))


def _proc_children(pid: int) -> list[int]:
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(stat.split("/")[2]))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _proc_children(todo.pop())
        out += kids
        todo += kids
    return out


def _vm_hwm_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def _jvm_pids() -> list[int]:
    pids = []
    for pid in _proc_children(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    pids.append(pid)
        except OSError:
            continue
    return pids


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this process and of the driver JVM, in MiB."""
    return {
        "python": _vm_hwm_bytes(os.getpid()) / 2**20,
        "jvm": sum(_vm_hwm_bytes(p) for p in _jvm_pids()) / 2**20,
    }


def stop_processes(spark) -> None:
    """Stop Spark if it started, then end the JVM and its Python workers and
    wait for them."""
    jvms = _jvm_pids()
    tree = [d for p in jvms for d in _descendants(p)]
    if spark is not None:
        spark.stop()
    for pid in jvms:
        os.kill(pid, signal.SIGTERM)
    deadline = time.monotonic() + 30
    for pid in jvms:
        while os.waitpid(pid, os.WNOHANG) == (0, 0):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.05)
    for pid in tree:
        while os.path.exists(f"/proc/{pid}"):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ten samples beyond it.

    With ten samples or fewer no percentile has ten beyond it; the maximum
    is reported and the percentile reads 100.
    """
    xs = sorted(values)
    k = len(xs) - 11
    if k < 0:
        return xs[-1], 100.0
    return xs[k], 100.0 * (k + 1) / len(xs)


class Run:
    """One benchmark run: set-up, timed passes, checks and the result."""

    def __init__(self, args):
        self.args = args
        self.wl_name = args.workload
        self.wl = WORKLOADS[args.workload]
        self.tier = args.sf or TIER
        self.rng = random.Random(args.seed)
        self.sf_dir = os.path.join(WORK, "fixtures", self.tier)
        self.floor_dir = os.path.join(WORK, "fixtures", f"floor-{self.tier}")
        self.ops: list[Op] = []  # operations of the measured passes
        self.attempted = 0  # operations of every pass, warm-up and floor too
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.duck = None
        self.duck_frames: dict = {}
        self.duck_s = 0.0
        self.tracer: Tracer | None = None
        self.floor: dict | None = None
        self.syncs = 0  # listener syncs so far; each uses its own job group
        self.spark = None
        self.progress_log: list = []
        self.extra: dict = {}

    # -- set-up --------------------------------------------------------------
    def setup(self, fixture_src: str) -> None:
        from big_data__instagram_analysis_spark import io, oracle, registry
        from big_data__instagram_analysis_spark.session import (
            enable_bench_tuning,
            get_spark,
        )
        from big_data__instagram_analysis_spark.streaming import harness

        self.oracle, self.harness = oracle, harness
        self.progress_log = harness.PROGRESS_LOG
        specs = registry.get_specs()
        names = self.wl.names or tuple(
            sorted(n for n, s in specs.items() if self.wl.tag in s.tags)
        )
        missing = [n for n in names if n not in specs or specs[n].oracle is None]
        if missing:
            raise SystemExit(f"queries without a registered oracle: {missing}")
        self.specs, self.names = specs, names

        # Replay directories of earlier runs would skip the replay staging
        # that set-up is meant to include.
        for d in glob.glob(os.path.join(io.scratch_dir(), "stream_*")):
            shutil.rmtree(d, ignore_errors=True)
        stage_fixtures(fixture_src, self.sf_dir, self.floor_dir)

        t0 = time.perf_counter()
        enable_bench_tuning()
        self.spark = get_spark(f"perfbench-{self.wl_name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.tracker = self.sc.statusTracker()

        t0 = time.perf_counter()
        if self.wl.replay:
            harness.events_stream(self.spark, self.sf_dir)
        self.replay_stage_s = time.perf_counter() - t0

        # Warm-up: one untimed pass loads classes, compiles codegen, starts
        # the Python workers and lets the JIT compile the data paths. After a
        # pass over the 1-row copies instead, the first real pass still ran
        # ~40% slower (stream_sink at sf0.1) and its per-query times depended
        # on the query order.
        t0 = time.perf_counter()
        self.warm = self.run_pass(self.sf_dir, "warm", oracle=False)
        self.session_warm_s = time.perf_counter() - t0
        self.setup_s = time.perf_counter() - T_START

    # -- passes --------------------------------------------------------------
    def run_pass(self, sf_dir: str, tag: str, *, oracle: bool = True, traced: bool = False) -> dict:
        """Run every query once, in seed order; then count its failures.

        With ``oracle=False`` (warm-up and floor passes) results are not
        compared with the oracle, but exceptions and failed Spark tasks
        still fail the run.
        """
        order = self.rng.sample(self.names, len(self.names))
        tracer = self.tracer if traced else None
        span = tracer.span if tracer else _no_span
        log_start = len(self.progress_log)
        ops = []
        if tracer:
            tracer.install()
        try:
            t0 = time.perf_counter()
            for i, name in enumerate(order):
                op = Op(name, group=f"pb-{tag}-{i}")
                ops.append(op)
                if tracer:
                    tracer.trace = (self.wl_name, tag, name)
                else:
                    self.sc.setLocalProperty(JOB_GROUP_PROP, op.group)
                self.run_op(op, sf_dir, span)
            wall = time.perf_counter() - t0
        finally:
            if tracer:
                tracer.uninstall()
            self.sc.setLocalProperty(JOB_GROUP_PROP, None)
        rec = {"tag": tag, "wall_s": wall, "traced": traced, "ops": ops}
        rec["progress"] = self.progress_log[log_start:]
        self.wait_for_listener()
        self.collect_stats(rec, tracer)
        self.check(rec, oracle=oracle)
        for op in ops:
            op.pdf = None
        return rec

    def run_op(self, op: Op, sf_dir: str, span) -> None:
        fn = self.specs[op.name].fn
        t0, t1 = time.perf_counter(), None
        try:
            with span("query") as qs:
                op.span = qs
                with span("queries.build"):
                    df = fn(self.spark, sf_dir)
                t1 = time.perf_counter()
                with span("exec.collect"):
                    op.pdf = df.toPandas()
        except Exception:
            op.error = traceback.format_exc(limit=4).strip().splitlines()[-1]
            traceback.print_exc(file=sys.stderr)
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        op.build_s, op.collect_s = t1 - t0, t2 - t1
        op.rows = 0 if op.pdf is None else len(op.pdf)

    def wait_for_listener(self) -> None:
        """Wait until ``statusTracker`` has applied every event posted so far.

        The tracker is filled asynchronously from the listener bus, in event
        order. Once a job started now reads as finished there, every task,
        stage and job event of the pass before it has been applied too.
        """
        self.syncs += 1
        group = f"pb-sync-{self.syncs}"
        self.sc.setLocalProperty(JOB_GROUP_PROP, group)
        try:
            self.spark.range(1).collect()
        finally:
            self.sc.setLocalProperty(JOB_GROUP_PROP, None)
        deadline = time.monotonic() + 60
        while True:
            ids = self.tracker.getJobIdsForGroup(group) or []
            infos = [self.tracker.getJobInfo(j) for j in ids]
            if ids and all(i is not None and i.status == "SUCCEEDED" for i in infos):
                return
            if time.monotonic() > deadline:
                raise RuntimeError("statusTracker did not report the sync job as finished")
            time.sleep(0.01)

    def collect_stats(self, rec: dict, tracer: Tracer | None) -> None:
        if tracer:
            spans = [s for s in tracer.spans if s.trace[:2] == (self.wl_name, rec["tag"])]
            tracer.count_jobs(spans, self.tracker)
            by_id = tracer.by_id()
            rec["spans"] = spans
            for op in rec["ops"]:
                if op.span is not None:
                    for attr in ("jobs", "stages", "tasks", "failed_tasks"):
                        setattr(op, attr, inclusive(op.span, by_id, attr))
            return
        for op in rec["ops"]:
            op.jobs, op.stages, op.tasks, op.failed_tasks = job_stats(self.tracker, op.group)

    def check(self, rec: dict, *, oracle: bool) -> None:
        """Record a pass's failed operations, comparing results with the
        oracle if ``oracle`` (untimed)."""
        t_check, mismatches = 0.0, 0
        for op in rec["ops"]:
            if op.error is None and op.failed_tasks:
                op.error = f"{op.failed_tasks} failed Spark task(s)"
            if op.error is None and oracle:
                duck = self.duck_frame(op.name)
                t0 = time.perf_counter()
                res = self.oracle.compare_frames(op.name, op.pdf, duck)
                t_check += time.perf_counter() - t0
                if not res.ok:
                    mismatches += 1
                    op.error = "oracle mismatch: " + "; ".join(res.mismatches[:3])
            if op.error is not None:
                msg = f"FAILED {op.name} (pass {rec['tag']}): {op.error}"
                print(msg, file=sys.stderr, flush=True)
                self.failures.append(msg)
        self.attempted += len(rec["ops"])
        if oracle:
            rec["check_s"], rec["mismatches"] = t_check, mismatches
            self.passes.append(rec)
            self.ops += rec["ops"]

    def duck_frame(self, name: str):
        if name not in self.duck_frames:
            if self.duck is None:
                self.duck = self.oracle.duck_connect(self.sf_dir)
            t0 = time.perf_counter()
            self.duck_frames[name] = self.duck.execute(self.specs[name].oracle).fetchdf()
            self.duck_s += time.perf_counter() - t0
        return self.duck_frames[name]

    # -- environment controls -----------------------------------------------
    def env_probes(self) -> dict:
        def best(fn, n):
            ts = []
            for _ in range(n):
                t0 = time.perf_counter()
                fn()
                ts.append(time.perf_counter() - t0)
            return min(ts)

        n = nproc()
        e = "id"
        for _ in range(8):
            e = f"xxhash64({e})"
        expr = f"bit_xor({e}) as x"

        def cpu():
            # A fresh DataFrame each time: re-running one would reuse its
            # shuffle output and time only the final 1-row stage.
            self.spark.range(0, n * CPU_PROBE_ROWS, 1, n).selectExpr(expr).collect()

        cpu()
        return {
            "empty_job_s": best(lambda: self.spark.range(1).collect(), 5),
            "cpu_probe_s": best(cpu, 3),
        }

    # -- the two kinds of run -------------------------------------------------
    def measure(self) -> dict:
        t0 = time.perf_counter()
        while True:
            self.run_pass(self.sf_dir, f"p{len(self.passes)}")
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        lat = [op.latency_s for op in self.ops]
        tail_s, tail_pct = tail(lat)
        rss = peak_rss_mb()
        # Operation percentiles are recorded, not printed: with one pass per
        # run they rest on 7-8 samples, and their run-to-run spread came
        # close to the largest bound BENCHMARK.json allows (README.md).
        self.extra = {
            "query_p50_s": statistics.median(lat),
            "query_tail_s": tail_s,
            "query_tail_pct": tail_pct,
            "query_n": len(lat),
            "peak_rss_mb": rss,
        }
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (statistics.median(p["wall_s"] for p in self.passes), "s"),
            "peak_rss_mb": (rss["python"] + rss["jvm"], "MB"),
        }

    def measure_traced(self) -> dict:
        self.tracer = Tracer(self.sc)
        env0 = self.env_probes()
        t0 = time.perf_counter()
        while True:
            self.run_pass(self.sf_dir, f"u{len(self.passes)}")
            self.run_pass(self.sf_dir, f"t{len(self.passes)}", traced=True)
            if time.perf_counter() - t0 >= self.args.seconds:
                break
        if self.wl.replay:  # kept out of the timed floor pass, as in set-up
            self.harness.events_stream(self.spark, self.floor_dir)
        self.floor = self.run_pass(self.floor_dir, "floor", oracle=False)
        env1 = self.env_probes()
        return self.layer_metrics(self.floor["wall_s"], env0, env1)

    def layer_metrics(self, floor_s: float, env0: dict, env1: dict) -> dict:
        untraced = [p for p in self.passes if not p["traced"]]
        traced = [p for p in self.passes if p["traced"]]
        by_id = self.tracer.by_id()
        per_pass = [pass_layers(p, by_id) for p in traced]
        med = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
        pass_u = statistics.median(p["wall_s"] for p in untraced)
        pass_t = statistics.median(p["wall_s"] for p in traced)
        m = {
            "session.start_s": (self.session_start_s, "s"),
            "session.warm_s": (self.session_warm_s, "s"),
            "streaming.replay_stage_s": (self.replay_stage_s, "s"),
            "exec.floor_pass_s": (floor_s, "s"),
            "exec.datapath_s": (pass_u - floor_s, "s"),
            "oracle.check_s": (statistics.median(p["check_s"] for p in self.passes), "s"),
            "oracle.mismatches": (sum(p["mismatches"] for p in self.passes), "count"),
            "env.empty_job_s": (env0["empty_job_s"], "s"),
            "env.cpu_probe_s": (env0["cpu_probe_s"], "s"),
            "env.empty_job_end_s": (env1["empty_job_s"], "s"),
            "env.cpu_probe_end_s": (env1["cpu_probe_s"], "s"),
            "trace.overhead_s": (pass_t - pass_u, "s"),
            "failed_frac": (len(self.failures) / self.attempted, "frac"),
        }
        for k, v in med.items():
            m[k] = (v, LAYER_UNITS[k])
        return m

    # -- result ----------------------------------------------------------------
    def record(self, metrics: dict) -> dict:
        confs = dict(self.sc.getConf().getAll())
        confs.update(self.spark.conf.getAll)
        return {
            "workload": self.wl_name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "tier": self.tier,
            "nproc": nproc(),
            "ram_bytes": ram_bytes(),
            "env": {k: os.environ[k] for k in ENV_KEYS},
            "spark_confs": confs,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            **self.extra,
            "duckdb_oracle_s": self.duck_s,
            "failures": self.failures,
            "passes": [
                {
                    "tag": p["tag"],
                    "wall_s": p["wall_s"],
                    "traced": p["traced"],
                    "ops": [op_record(op) for op in p["ops"]],
                }
                for p in [self.warm] + self.passes + ([self.floor] if self.floor else [])
            ],
        }


ENV_KEYS = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY", "PYTHONPATH", "SPARK_LOCAL_DIRS")

#: Unit of every per-layer metric pass_layers() computes.
LAYER_UNITS = {
    "session.tune_calls": "count",
    "session.tune_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "io.load_calls": "count",
    "io.load_s": "s",
    "operators.dedup_s": "s",
    "operators.graph_s": "s",
    "operators.similarity_s": "s",
    "operators.other_s": "s",
    "operators.calls": "count",
    "operators.graph_jobs": "count",
    "streaming.run_s": "s",
    "streaming.batches": "count",
    "streaming.state_rows_max": "rows",
    "streaming.state_bytes_max": "bytes",
    "sources.roundtrip_s": "s",
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.rows_collected": "rows",
    "exec.failed_tasks": "count",
    "trace.spans": "count",
    **{f"self.{k}_s": "s" for k in (
        "client", "queries", "exec", "session", "io", "operators", "streaming", "sources"
    )},
}


def _self_layer(name: str) -> str:
    """Layer a span's self time is charged to."""
    return "client" if name == "query" else name.split(".", 1)[0]


def pass_layers(rec: dict, by_id: dict) -> dict:
    """Per-layer totals of one traced pass."""
    spans = rec["spans"]

    def total(prefix: str) -> float:
        return sum(s.dur for s in outermost(spans, by_id, lambda s: s.name.startswith(prefix)))

    def count(prefix: str) -> int:
        return sum(1 for s in spans if s.name.startswith(prefix))

    families = ("operators.dedup.", "operators.graph.", "operators.similarity.")
    builds = [s for s in spans if s.name == "queries.build"]
    collects = [s for s in spans if s.name == "exec.collect"]
    graph = outermost(spans, by_id, lambda s: s.name.startswith("operators.graph."))
    other = outermost(
        spans,
        by_id,
        lambda s: s.name.startswith("operators.") and not s.name.startswith(families),
    )
    progress = rec["progress"]
    m = {
        "session.tune_calls": count("session.tune"),
        "session.tune_s": total("session.tune"),
        "queries.build_s": sum(s.dur for s in builds),
        "queries.build_jobs": sum(inclusive(s, by_id, "jobs") for s in builds),
        "io.load_calls": count("io.load"),
        "io.load_s": total("io.load"),
        "operators.dedup_s": total("operators.dedup."),
        "operators.graph_s": total("operators.graph."),
        "operators.similarity_s": total("operators.similarity."),
        "operators.other_s": sum(s.dur for s in other),
        "operators.calls": count("operators."),
        "operators.graph_jobs": sum(inclusive(s, by_id, "jobs") for s in graph),
        "streaming.run_s": total("streaming.run_available_now"),
        "streaming.batches": sum(e["batches"] for e in progress),
        "streaming.state_rows_max": max((e["max_state_rows"] for e in progress), default=0),
        "streaming.state_bytes_max": max((e["max_state_bytes"] for e in progress), default=0),
        "sources.roundtrip_s": total("sources.roundtrip_"),
        "exec.collect_s": sum(s.dur for s in collects),
        "exec.jobs": sum(inclusive(s, by_id, "jobs") for s in collects),
        "exec.stages": sum(inclusive(s, by_id, "stages") for s in collects),
        "exec.tasks": sum(inclusive(s, by_id, "tasks") for s in collects),
        "exec.rows_collected": sum(op.rows for op in rec["ops"]),
        "exec.failed_tasks": sum(s.failed_tasks for s in spans),
        "trace.spans": len(spans),
    }
    m.update({k: 0.0 for k in LAYER_UNITS if k.startswith("self.")})
    for s in spans:
        m[f"self.{_self_layer(s.name)}_s"] += self_time(s, by_id)
    return m


def op_record(op: Op) -> dict:
    return {
        "name": op.name,
        "build_s": op.build_s,
        "collect_s": op.collect_s,
        "latency_s": op.latency_s,
        "rows": op.rows,
        "jobs": op.jobs,
        "stages": op.stages,
        "tasks": op.tasks,
        "failed_tasks": op.failed_tasks,
        "error": op.error,
    }


def cleanup_scratch(scratch: str) -> None:
    """Remove the per-process sink directories the stream queries leave."""
    pid = os.getpid()
    for d in glob.glob(os.path.join(scratch, f"*_{pid}")) + glob.glob(
        os.path.join(scratch, f"*_{pid}_*")
    ):
        shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", help="fixture scale directory to read instead of the workload's (e.g. sf0.001)"
    )
    args = ap.parse_args(argv)

    try:
        from big_data__instagram_analysis_spark import io
    except ImportError as e:
        print(f"perfbench: cannot import {PKG} from {ROOT}: {e}", file=sys.stderr)
        return 2
    tier = args.sf or TIER
    # The fixtures sit beside the package's default (smoke) fixture directory.
    fixture_src = os.path.join(os.path.dirname(io.DEFAULT_SF_DIR), tier)
    if not glob.glob(os.path.join(fixture_src, "*.parquet")):
        print(f"perfbench: no fixtures in {fixture_src}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_env(run_dir)
    run = Run(args)
    try:
        run.setup(fixture_src)
        metrics = run.measure_traced() if args.trace else run.measure()
        record = run.record(metrics)
    finally:
        stop_processes(run.spark)
        cleanup_scratch(io.scratch_dir())
        shutil.rmtree(run_dir, ignore_errors=True)

    out = os.path.join(WORK, "results", f"{args.workload}-{tier}-s{args.seed}-t{args.trace}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if run.tracer is not None:
        with open(out + "-spans.jsonl", "w") as fh:
            for r in run.tracer.records():
                fh.write(json.dumps(r) + "\n")
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={len(run.passes)} "
        f"ops={run.attempted} failed={len(run.failures)} record={out}.json"
    )
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": len(run.failures),
                "metrics": record["metrics"],
            }
        )
    )
    return 1 if run.failures else 0


if __name__ == "__main__":
    sys.exit(main())
