"""Measurement plumbing shared by the workloads: the Spark session the
benchmark drives, process-tree CPU and memory from ``/proc``, host-noise
readings, the runtime-attached Spark event log of a traced run, and the
summary statistics every metric is reported with.

Nothing here imports the package under test; ``run.py`` does that first,
so a checkout without the package fails before any measurement starts.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- one pass of a workload --------------------------------------------------


@dataclass
class Pass:
    """What one closed-loop pass of a workload measured. ``ops`` holds the
    wall seconds of each of the pass's operations by name (the same names
    every pass); ``samples`` holds per-operation values by metric name;
    ``extra`` holds per-pass figures the traced run turns into per-layer
    metrics."""

    wall_s: float = 0.0  # the system's work only, checks excluded
    ops: dict[str, float] = field(default_factory=dict)
    cpu: "TreeSample | None" = None  # tree CPU over begin() .. end()
    attempted: int = 0
    failed: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def begin(self) -> None:
        self._cpu0 = sample_tree()

    def end(self) -> None:
        """Close the CPU window; the pass's correctness checks run after
        it. ``cpu`` keeps the tree's VmHWM at this point for peak RSS."""
        s = sample_tree()
        c = self._cpu0
        self.cpu = TreeSample(s.driver_py_s - c.driver_py_s, s.jvm_s - c.jvm_s,
                              s.jit_s - c.jit_s, s.pyworker_s - c.pyworker_s, s.hwm_mb,
                              s.hwm_by_role)


class Workload:
    """What run.py drives: ``setup()`` (timed as set-up), ``run_pass()``
    until the window closes (a traced pass between ``start_trace()`` and
    ``stop_trace()``), then ``probes()``, ``layers()``, ``finish()`` for
    end-of-run checks and the report extras."""

    setup_parts: dict[str, float]  # set by setup(): seconds per set-up phase
    #: timed passes a run makes however long they take: a run's cheapest
    #: pass needs some to choose from, and the JIT keeps making passes
    #: cheaper, so every run should time the same stretch of them
    min_passes = 2

    def start_trace(self) -> None:
        pass

    def stop_trace(self) -> list[dict]:
        return []

    def probes(self) -> dict[str, float]:
        return {}

    def finish(self) -> tuple[int, int]:
        """(attempted, failed) of checks made once per run."""
        return 0, 0

    def stored_bytes_per_row(self) -> float | None:
        return None


def job_group(spark, name: str | None) -> None:
    """Tag the Spark jobs the calling thread runs next (None clears)."""
    sc = spark.sparkContext
    if name is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(name, name)


# --- statistics -------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def best_pass(passes: list[Pass]) -> float:
    """The sum over a pass's operations of each operation's fastest time
    in the run: a pass as it runs when nothing else on the host delays it.
    Co-tenant load only ever adds time to an operation, so an operation's
    minimum moves less between runs than its median."""
    return sum(min(p.ops[op] for p in passes) for op in passes[0].ops)


def percentile(xs: list[float], q: float) -> float | None:
    """The q-quantile of ``xs`` (nearest rank), or None when fewer than
    ten samples lie beyond it: a tail percentile is reported only where
    the sample supports it."""
    n = len(xs)
    if n == 0 or n * (1.0 - q) < 10:
        return None
    s = sorted(xs)
    return s[min(n - 1, max(0, math.ceil(q * n) - 1))]


# --- process tree: CPU seconds and peak RSS ---------------------------------


def _read_stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, utime+stime+cutime+cstime seconds) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    comm = raw[lpar + 1 : rpar]
    rest = raw[rpar + 2 :].split()
    # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    return ppid, comm, ticks / _CLK_TCK


def _jit_s(pid: int) -> float:
    """utime+stime seconds of a JVM's JIT compiler threads. A thread's
    stat carries its own utime and stime but the whole process's cutime
    and cstime, so only the first two are summed."""
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if "CompilerThre" in raw[raw.index("(") + 1 : raw.rindex(")")]:
            rest = raw[raw.rindex(")") + 2 :].split()
            total += (int(rest[11]) + int(rest[12])) / _CLK_TCK
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class TreeSample:
    driver_py_s: float
    jvm_s: float  # the JVM without its JIT compiler threads
    jit_s: float  # the JVM's JIT compiler threads
    pyworker_s: float
    hwm_mb: float
    hwm_by_role: dict[str, float] = field(default_factory=dict)

    @property
    def total_s(self) -> float:
        """The tree's CPU without the JIT compiler threads: compiling is
        start-up cost that a long-running service has paid, and in a
        benchmark process it still moves by seconds from pass to pass."""
        return self.driver_py_s + self.jvm_s + self.pyworker_s


def sample_tree(root: int | None = None) -> TreeSample:
    """CPU seconds (own + reaped children) of the driver Python process,
    the JVM it launched (its JIT compiler threads apart) and the JVM's
    Python workers, plus the sum of their VmHWM. A reaped child's time
    lands in its parent's cutime, so the sum over live processes never
    double counts."""
    root = root or os.getpid()
    procs: dict[int, tuple[int, str, float]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(int(d))
            if st is not None:
                procs[int(d)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _c, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    cpu = {"driver": procs.get(root, (0, "", 0.0))[2], "jvm": 0.0, "jit": 0.0, "workers": 0.0}
    hwm = {"driver": _vm_hwm_kb(root) / 1024.0, "jvm": 0.0, "workers": 0.0}
    stack = [(c, False) for c in children.get(root, [])]
    while stack:
        pid, under_jvm = stack.pop()
        _ppid, comm, secs = procs[pid]
        is_jvm = not under_jvm and comm == "java"
        # anything else the driver itself started counts as the driver's
        role = "jvm" if is_jvm else "workers" if under_jvm else "driver"
        cpu[role] += secs
        if is_jvm:
            jit = _jit_s(pid)
            cpu["jit"] += jit
            cpu["jvm"] -= jit
        hwm[role] += _vm_hwm_kb(pid) / 1024.0
        stack.extend((c, under_jvm or is_jvm) for c in children.get(pid, []))
    return TreeSample(cpu["driver"], cpu["jvm"], cpu["jit"], cpu["workers"], sum(hwm.values()),
                      hwm)


class PeakRss:
    """Running maximum of the tree's summed VmHWM (Python workers come and
    go, so the sum is sampled at every pass boundary)."""

    def __init__(self) -> None:
        self.mb = 0.0
        self.by_role: dict[str, float] = {}

    def observe(self, s: TreeSample) -> None:
        if s.hwm_mb > self.mb:
            self.mb, self.by_role = s.hwm_mb, s.hwm_by_role


# --- host noise --------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already folded into user/nice
    return steal, sum(vals[:8])


def _calib_ms() -> float:
    """Wall ms of a fixed single-threaded Python loop, median of three.
    On a shared host, co-tenants can slow every instruction without any
    steal being recorded; this reading moves with that slowdown."""

    def once() -> float:
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i
        return 1000.0 * (time.perf_counter() - t)

    return statistics.median(once() for _ in range(3))


class HostNoise:
    """Steal share of all CPU time on the host, the 1-minute load and the
    calibration loop's time, over the measured window: a run taken under
    co-tenant load can then be told apart from a regression."""

    def __init__(self) -> None:
        self.calib_start = _calib_ms()
        self._start = _cpu_jiffies()
        self.load_start = os.getloadavg()[0]

    def report(self) -> dict[str, float]:
        steal1, total1 = _cpu_jiffies()
        steal0, total0 = self._start
        dt = max(1, total1 - total0)
        return {
            "steal_pct": 100.0 * (steal1 - steal0) / dt,
            "load_1m_start": self.load_start,
            "load_1m_end": os.getloadavg()[0],
            "calib_ms_start": self.calib_start,
            "calib_ms_end": _calib_ms(),
        }


# --- the Spark session -------------------------------------------------------


def start_spark(work: str, cores: int, app: str):
    """The package's own session (``session.get_spark``) on local[cores].

    Every file Spark, the JVM and Python write goes under ``work``; the
    Python workers get the checkout on their PYTHONPATH, because a worker
    that cannot import the package decodes nothing and the service only
    logs that as a warning."""
    from nfdump2clickhouse_spark import session

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "1536m")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # compiler threads that come and go would carry their CPU out of
        # the JIT's share when they exit
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} "
        "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
        # read by the event-log listener a traced run attaches; untraced
        # runs never log events
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    spark = session.get_spark(app, master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit; its Python
    workers exit with it (they watch their stdin)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- traced runs: event log attached at run time -----------------------------


@dataclass
class TaskTotals:
    tasks: int = 0
    cpu_ms: float = 0.0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    """Parsed Spark event log: jobs with their group, and TaskEnd metrics
    summed per job."""

    job_group: dict[int, str] = field(default_factory=dict)
    job_stages: dict[int, list[int]] = field(default_factory=dict)
    per_job: dict[int, TaskTotals] = field(default_factory=dict)

    def jobs_in(self, group_prefix: str) -> list[int]:
        return [j for j, g in self.job_group.items() if g.startswith(group_prefix)]

    def totals(self, jobs: list[int]) -> TaskTotals:
        t = TaskTotals()
        for j in jobs:
            if j in self.per_job:
                t.add(self.per_job[j])
        return t

    def stages(self, jobs: list[int]) -> int:
        return sum(len(self.job_stages.get(j, [])) for j in jobs)


def _parse_event_log(directory: str) -> EventLog:
    log = EventLog()
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(directory, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    log.job_group[j] = props.get("spark.jobGroup.id") or ""
                    log.job_stages[j] = list(ev.get("Stage IDs", []))
                    for s in log.job_stages[j]:
                        stage_job[s] = j
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    im = m.get("Input Metrics") or {}
                    om = m.get("Output Metrics") or {}
                    log.per_job.setdefault(j, TaskTotals()).add(
                        TaskTotals(
                            tasks=1,
                            cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
                            run_ms=m.get("Executor Run Time", 0),
                            gc_ms=m.get("JVM GC Time", 0),
                            shuffle_read_bytes=sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                            spill_bytes=m.get("Disk Bytes Spilled", 0)
                            + m.get("Memory Bytes Spilled", 0),
                            input_bytes=im.get("Bytes Read", 0),
                            input_records=im.get("Records Read", 0),
                            output_bytes=om.get("Bytes Written", 0),
                        )
                    )
    return log


class Tracer:
    """Attach Spark's own EventLoggingListener to a live session for the
    span of a ``with`` block, so one session runs untraced and traced
    passes. Each block logs to its own file (uncompressed and single-file,
    set at session start); the directory is deleted once parsed."""

    def __init__(self, spark, directory: str):
        self._sc = spark.sparkContext
        self._dir = directory
        self._listener = None
        self._blocks = 0

    def __enter__(self) -> "Tracer":
        jvm = self._sc._jvm
        jsc = self._sc._jsc.sc()
        os.makedirs(self._dir, exist_ok=True)
        self._blocks += 1
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{jsc.applicationId()}-trace{self._blocks}",
            jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(self._dir)),
            jsc.conf(),
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self.detach()

    def detach(self) -> None:
        if self._listener is None:
            return
        jsc = self._sc._jsc.sc()
        # drain the listener bus so every event of the traced passes is in
        # the log before it is closed
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        self._listener = None

    def parse_and_delete(self) -> EventLog:
        try:
            return _parse_event_log(self._dir)
        finally:
            shutil.rmtree(self._dir, ignore_errors=True)


def jobs_for_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def spark_layer(log: EventLog, jobs: list[int], passes: int) -> dict[str, float]:
    """The engine-wide per-layer block, per pass."""
    t = log.totals(jobs)
    p = max(1, passes)
    return {
        "spark.jobs": len(jobs) / p,
        "spark.stages": log.stages(jobs) / p,
        "spark.tasks": t.tasks / p,
        "spark.executor_cpu_ms": t.cpu_ms / p,
        "spark.executor_run_ms": t.run_ms / p,
        "spark.shuffle_read_bytes": t.shuffle_read_bytes / p,
        "spark.shuffle_write_bytes": t.shuffle_write_bytes / p,
        "spark.spill_bytes": t.spill_bytes / p,
        "spark.gc_ms": t.gc_ms / p,
        "spark.input_bytes": t.input_bytes / p,
        "spark.output_bytes": t.output_bytes / p,
    }
