"""Shared pieces of the benchmark: the run context, statistics, process
facts (CPU, resident memory, ambient load), the host-speed sample and
the Spark environment."""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import tempfile
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".bench_out")
WORK_DIR = os.path.join(ROOT, ".bench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _runnable_others(me: str) -> int:
    running = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or pid == me:
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state = fh.read().rsplit(") ", 1)[1].split(" ", 1)[0]
        except (OSError, IndexError):
            continue
        running += state in ("R", "D")
    return running


def ambient_load(samples: int = 5, interval_s: float = 0.05) -> dict:
    """The 1-minute load average and the mean number of other runnable
    processes, read before any work starts.  The load average lags by
    about a minute, so right after a previous run it still shows that
    run's own load; the runnable count shows only what competes now."""
    me = str(os.getpid())
    counts = []
    for i in range(samples):
        if i:
            time.sleep(interval_s)
        counts.append(_runnable_others(me))
    return {"load_1min": round(os.getloadavg()[0], 2), "runnable_others": sum(counts) / samples}


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (``VmHWM``) of one process, in MB; 0 if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_s(jvm_pid: int | None) -> float:
    """User plus system CPU seconds of this process and, when given, of
    the driver JVM (all its threads)."""
    total = time.process_time()
    if jvm_pid is None:
        return total
    try:
        with open(f"/proc/{jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(") ", 1)[1].split()
    except OSError:
        return total
    return total + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile), as
    ``statistics.quantiles(values, n=4)`` gives them; a single value is
    its own quartiles."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


# The host's cores are shared with other tenants: the same code runs up to
# 30% slower in phases of a second to minutes.  A fixed pure-Python loop
# samples the host's speed; it touches no code of the package and allocates
# nothing the garbage collector tracks.  Each timed op is bracketed by one
# loop run before and one after it.  An op's latency is scaled to a host on
# which the loop takes PROBE_REF_MS, by the median of the samples of the
# PROBE_SPAN ops around it: the speed of the op's own stretch of the run,
# with single preempted samples voted out.  A workload uses the scale only
# where ten-run spreads showed that it narrows them.  The wall-clock
# figures stay in the run record.
PROBE_LOOPS = 30_000
PROBE_REF_MS = 2.0
PROBE_SPAN = 5


def spin_ms() -> float:
    """One run of the fixed loop, in ms."""
    start = time.perf_counter()
    acc = 0
    for i in range(PROBE_LOOPS):
        acc += i * i % 7
    return (time.perf_counter() - start) * 1000.0


class SpeedProbe:
    """Samples of the fixed loop's time, in ms, for one phase."""

    def __init__(self) -> None:
        self.samples: list[float] = []

    def sample(self, times: int = 3) -> None:
        for _ in range(times):
            self.samples.append(spin_ms())

    def median_ms(self) -> float:
        return statistics.median(self.samples) if self.samples else 0.0


@dataclass
class Context:
    """What a workload receives: seed, time budget, work directory,
    core count and tracer; and the tallies it fills in."""

    seed: int
    seconds: float
    work: str
    cores: int
    tracer: object
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    metrics: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    jvm_pid: int | None = None
    setup_probe: SpeedProbe = field(default_factory=SpeedProbe)
    # per timed op: the mean of the loop runs just before and just after it
    op_probe: SpeedProbe = field(default_factory=SpeedProbe)


    def record(self, ok: bool, what: str) -> None:
        """Count one operation; a failed one is kept for the report."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def n_ops(self, nominal_op_s: float, minimum: int) -> int:
        """Operations in the timed window: the run's seconds over the
        workload's nominal op time, so that every run of one length
        does the same work however fast the host happens to be."""
        n = max(minimum, round(self.seconds / nominal_op_s))
        # a traced run traces one op of each pair: keep the pairs whole
        return n + n % 2 if self.tracer.enabled else n


class Phases:
    """Wall-clock accounting of set-up: time spent checking results or
    repeating a set-up step is kept apart, so ``setup_s`` counts only
    the program's own set-up work once."""

    def __init__(self, started: float) -> None:
        self.started = started
        self.excluded_s = 0.0
        self.parts: dict[str, float] = {}

    @contextlib.contextmanager
    def part(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.parts[name] = self.parts.get(name, 0.0) + time.perf_counter() - t0

    @contextlib.contextmanager
    def excluded(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            elapsed = time.perf_counter() - t0
            self.excluded_s += elapsed
            self.parts[name] = self.parts.get(name, 0.0) + elapsed

    def repeated(self, name: str, fn, times: int = 3):
        """Run a set-up step ``times`` times; the median run counts
        into set-up, the rest is excluded.  Returns the last result."""
        durations = []
        result = None
        for _ in range(times):
            t0 = time.perf_counter()
            result = fn()
            durations.append(time.perf_counter() - t0)
        self.excluded_s += sum(durations) - statistics.median(durations)
        self.parts[name] = statistics.median(durations)
        self.parts[name + "_runs"] = durations
        return result

    def setup_s(self) -> float:
        return time.perf_counter() - self.started - self.excluded_s


def timing_metrics(ctx: Context, setup_s: float, latencies_s: list[float], scaled: bool = True) -> None:
    """The end-to-end timing metrics.  ``setup_s`` is wall-clock; with
    ``scaled``, op latencies are scaled by the host speed of their own
    stretch of the run (see ``PROBE_REF_MS``).  The client is a closed
    loop, so throughput is ops per second of op time."""
    probes = ctx.op_probe.samples
    half = PROBE_SPAN // 2
    local = [statistics.median(probes[max(0, i - half) : i + half + 1]) for i in range(len(probes))]
    ops = [t * PROBE_REF_MS / p for t, p in zip(latencies_s, local)] if scaled else latencies_s
    ctx.metrics["setup_s"] = setup_s
    ctx.metrics["ops_per_s"] = len(ops) / sum(ops)
    ctx.metrics["op_p50_ms"] = statistics.median(ops) * 1000.0
    ctx.info["wall"] = {
        "setup_s": setup_s,
        "ops_per_s": len(latencies_s) / sum(latencies_s),
        "op_p50_ms": statistics.median(latencies_s) * 1000.0,
    }
    ctx.info["scaled"] = scaled
    ctx.info["ops"] = len(latencies_s)
    ctx.info["op_ms"] = [round(t * 1000.0, 3) for t in latencies_s]
    ctx.info["op_probe_ms"] = [round(t, 4) for t in probes]
    ctx.info["setup_probe_ms"] = ctx.setup_probe.median_ms()
    ctx.info["window_probe_ms"] = ctx.op_probe.median_ms()


def spark_env(work: str, cores: int) -> None:
    """Point every directory Spark and the engine write to inside the
    run's work directory and size Spark to the machine's cores.  Must
    run before the JVM starts."""
    for sub in ("spark-local", "scratch", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(work, "scratch")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on next use
    # the short launcher JVM of spark-submit: no /tmp/hsperfdata_* file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"


def spark_conf(work: str, extra: dict[str, str]) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no /tmp/hsperfdata_* file: the run writes only inside its checkout.
        # A fixed young generation: with G1's adaptive sizing the JVM's
        # resident peak varied by 13% between identical runs, fixed by 1%.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -Xmn384m",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra)
    return conf


def start_spark(ctx: Context, app_name: str):
    """Start the engine's session with the benchmark's directories and
    remember the driver JVM's pid."""
    from pyspark import SparkContext

    from guidewire_spark.plans import session

    spark = session.get_spark(app_name=app_name, extra_conf=spark_conf(ctx.work, ctx.tracer.spark_conf()))
    spark.sparkContext.setLogLevel("ERROR")
    proc = getattr(SparkContext._gateway, "proc", None)
    ctx.jvm_pid = proc.pid if proc is not None else None
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_op(ctx: Context, kind: str, index: int | None, fn):
    """Run one op's timed call.  Returns (seconds, result, error); an
    op that raises has result None and the error text.  ``index`` is the
    op's place in the timed window, None for set-up ops.  A timed op is
    bracketed by host-speed samples; in a traced run the CPU the op
    costs the Python process and the JVM is summed."""
    traced = index is not None and ctx.tracer.traced(index)
    before = spin_ms()
    if traced:
        cpu0 = cpu_s(ctx.jvm_pid)
    result, error = None, None
    with ctx.tracer.op(kind, index):
        start = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # an op that raises counts as failed
            error = f"{kind}: {exc!r}"
        elapsed = time.perf_counter() - start
    if traced:
        ctx.layer["proc.cpu_s"] = ctx.layer.get("proc.cpu_s", 0.0) + cpu_s(ctx.jvm_pid) - cpu0
    probe = (before + spin_ms()) / 2.0
    if index is None:
        ctx.setup_probe.samples.append(probe)
    else:
        ctx.op_probe.samples.append(probe)
        ctx.tracer.add_latency(index, elapsed)
    return elapsed, result, error
