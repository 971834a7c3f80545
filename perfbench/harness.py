"""Shared harness: run environment, Spark session set-up, spans, and
the readers for the Spark event log and /proc.

Everything a run writes goes under ``.perfbench/`` at the checkout root,
so the benchmark reads and writes nowhere else.
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
# Spark local mode on every core of the box (local[nproc]).
CPUS = len(os.sched_getaffinity(0))
# Small enough for a shared box; the generated inputs are tens of MB.
DRIVER_MEM = "2g"


class SetupError(RuntimeError):
    """The checkout cannot run the benchmark (program missing)."""


def prepare_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python at
    ``run_dir`` and make the program importable by the Python workers.
    Must run before the first SparkSession is created."""
    if not os.path.isdir(os.path.join(ROOT, "bolson_spark")):
        raise SetupError(f"no bolson_spark package under {ROOT}")
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    events = os.path.join(run_dir, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        # offline event log (ROADMAP): per-task metrics, no UI
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + events,
            }
        )
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args)
            + " pyspark-shell",
        }
    )
    import sys
    import tempfile

    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def new_session(previous=None):
    """Stop ``previous`` (if any) and build the program's session with
    ``bolson_spark.session.get_spark``; the JVM is launched once per
    process and reused by later sessions."""
    if previous is not None:
        previous.stop()
    from bolson_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop any session still running and wait for the JVM to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_setups(prepare, n: int = 5):
    """Run ``prepare(previous_session) -> (session, state)`` ``n`` times
    and return the last (session, state) plus the median wall time. The
    first run launches the JVM and the second is still slower than the
    rest, so the median is a warm in-JVM set-up."""
    spark, state, times = None, None, []
    for _ in range(n):
        t0 = time.perf_counter()
        spark, state = prepare(spark)
        times.append(time.perf_counter() - t0)
    return spark, state, statistics.median(times), times


# ---------------------------------------------------------------- spans


@dataclass
class Tracer:
    """In-memory spans around the benchmark's calls into each layer.
    Disabled, ``span`` costs one branch and records nothing. The sink's
    spans open on Spark's callback thread while the main thread waits
    inside its stream span, which becomes their parent."""

    enabled: bool
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()


@contextmanager
def job_group(spark, name: str):
    """Tag the Spark jobs launched inside the block, so the event log
    attributes them to ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# ----------------------------------------------------------- event log


@dataclass
class Job:
    """One Spark job from the event log, with its tasks' metrics."""

    group: str
    submit_s: float
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    # stage id -> task durations (ms)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))


def read_event_log(run_dir: str) -> list[Job]:
    """Jobs of the last SparkContext's event log. Call after that
    session is stopped, when Spark has flushed the log."""
    logs = sorted(
        glob.glob(os.path.join(run_dir, "eventlog", "*")), key=os.path.getmtime
    )
    if not logs:
        raise RuntimeError("traced run wrote no Spark event log")
    jobs: list[Job] = []
    stage_job: dict[int, Job] = {}
    with open(logs[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(props.get("spark.jobGroup.id") or "", ev["Submission Time"] / 1e3)
                jobs.append(job)
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                job = stage_job[ev["Stage ID"]]
                m = ev.get("Task Metrics") or {}
                info = ev["Task Info"]
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                job.task_s += m.get("Executor Run Time", 0) / 1e3
                job.gc_ms += m.get("JVM GC Time", 0)
                job.shuffle_bytes += (
                    rd.get("Remote Bytes Read", 0)
                    + rd.get("Local Bytes Read", 0)
                    + wr.get("Shuffle Bytes Written", 0)
                )
                job.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get(
                    "Memory Bytes Spilled", 0
                )
                job.stage_tasks[ev["Stage ID"]].append(
                    info["Finish Time"] - info["Launch Time"]
                )
    return jobs


def summarize_jobs(jobs: list[Job], per: float = 1.0) -> dict[str, float]:
    """Execution-layer totals of ``jobs`` divided by ``per`` (the
    number of passes they span), and the task skew of their heaviest
    stage: max over median task time."""
    stages: dict[int, list] = {}
    for j in jobs:
        stages.update(j.stage_tasks)
    skew = 0.0
    if stages:
        tasks = max(stages.values(), key=sum)
        med = statistics.median(tasks)
        skew = max(tasks) / med if med > 0 else 1.0
    per = per or 1.0
    return {
        "jobs": len(jobs) / per,
        "task_s": sum(j.task_s for j in jobs) / per,
        "shuffle_mb": sum(j.shuffle_bytes for j in jobs) / per / 1e6,
        "spill_mb": sum(j.spill_bytes for j in jobs) / per / 1e6,
        "gc_ms": sum(j.gc_ms for j in jobs) / per,
        "task_skew": skew,
    }


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``, from
    its QueryExecution's phase tracker (forces ``executedPlan``)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


# ---------------------------------------------------------------- /proc


def _rss_kb(pid: int, key: str = "VmRSS") -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                kids += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return kids


class RssSampler:
    """Peak memory of the driver JVM plus its Python workers. The JVM
    peak comes from the kernel's high-water mark; the workers (forked
    by the JVM's Python daemon) are summed at each ``sample`` call,
    which the workloads make between layer calls."""

    def __init__(self):
        self.jvm_pid = None
        self.worker_peak_kb = 0

    def attach(self, spark) -> None:
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def sample(self) -> None:
        if self.jvm_pid is None:
            return
        todo, total = _children(self.jvm_pid), 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo += _children(pid)
        self.worker_peak_kb = max(self.worker_peak_kb, total)

    def peak_mb(self) -> float:
        self.sample()
        return (_rss_kb(self.jvm_pid, "VmHWM") + self.worker_peak_kb) / 1024


def cpu_ticks() -> list[int]:
    """The box's aggregate CPU tick counters (user, nice, system, idle,
    iowait, irq, softirq, steal, ...) from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other tenants between
    two ``cpu_ticks`` readings: a slow run on a shared box shows here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


# -------------------------------------------------------------- results


def percentile(xs, q: float) -> float:
    """q-th percentile of the non-NaN values of ``xs`` (0 when none)."""
    import numpy as np

    a = np.asarray(xs, dtype=float)
    a = a[~np.isnan(a)]
    return float(np.percentile(a, q)) if len(a) else 0.0


def median(xs) -> float:
    return percentile(xs, 50)


def new_run_dir(workload: str, seed: int) -> str:
    d = os.path.join(WORK_ROOT, f"run-{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    run_dir: str
    tracer: Tracer = None
    rss: RssSampler = field(default_factory=RssSampler)
    # coarse wall time of each phase of the run, traced or not
    phases: dict = field(default_factory=dict)

    def __post_init__(self):
        if self.tracer is None:
            self.tracer = Tracer(self.trace)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


@dataclass
class Outcome:
    """What a workload measured. ``attempted``/``failed`` count timed
    operations and output checks; ``check_failures`` says what failed."""

    attempted: int = 0
    failed: int = 0
    check_failures: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.check_failures.append(what)
