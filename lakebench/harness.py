"""Run plumbing shared by the workloads: Spark lifecycle, span tracing,
latency statistics and kernel memory high-water marks."""

from __future__ import annotations

import json
import math
import os
import shlex
import statistics
import subprocess
import time
from dataclasses import asdict, dataclass, field

# Driver heap for the benchmark's own Spark session. The engine's 16g
# default is larger than a small host's memory; 1g holds every workload.
# It is also the initial heap (-Xms): with a heap that grew on demand,
# peak RSS spread 12-13% over seeds; with a fixed one, 1-4%.
DRIVER_MEM = "1g"
# local[2] on a 4-vCPU host leaves cores for the Python driver and the
# JVM's compiler and GC threads
MAX_CORES = 2


def spark_cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def configure_environment(work_dir: str) -> None:
    """Point every scratch location of the JVM and Python at the run's
    own directory; must run before pyspark launches its gateway."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    warehouse = os.path.join(work_dir, "warehouse")
    for d in (tmp, local, warehouse):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # -XX:-UsePerfData keeps both JVMs, spark-submit's command launcher
    # and the driver, out of /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(java_opts),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={warehouse}"),
            "pyspark-shell",
        ]
    )


def start_spark():
    from icegopher_spark.session import get_spark

    spark = get_spark("lakebench", cpus=str(spark_cores()))
    # the first job pays JVM class loading; bill it to set-up
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (closing its stdin is the gateway's shutdown signal)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            # a hung JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int | str) -> float:
    """Kernel RSS high-water mark (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of the Python driver and of its gateway JVM."""
    pid = jvm_pid()
    return {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(pid) if pid is not None else 0.0}


def host_contention() -> dict[str, float]:
    """Cumulative CPU steal and CPU-pressure stall seconds of the host.
    The difference across the timed phase tells a slow run on a busy
    host from a slow engine."""
    with open("/proc/stat") as fh:
        steal = int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    try:
        with open("/proc/pressure/cpu") as fh:
            stall = int(fh.readline().rsplit("total=", 1)[1]) / 1e6
    except OSError:
        stall = 0.0
    return {"steal_s": steal, "cpu_pressure_s": stall}


# -- latency statistics --------------------------------------------------


def tail_rank(n: int) -> tuple[float, int]:
    """(percentile, 0-based index into the sorted samples) of the highest
    percentile with at least 10 samples beyond it, never below the
    median: with fewer than 20 samples the tail is the median."""
    beyond = 10
    idx = n - beyond - 1
    median_idx = (n - 1) // 2
    if idx < median_idx:
        return 50.0, median_idx
    return 100.0 * (idx + 1) / n, idx


def latency_summary(samples_ms: list[float]) -> dict:
    s = sorted(samples_ms)
    pct, idx = tail_rank(len(s))
    p50 = statistics.median(s)
    return {
        "n": len(s),
        "p50": p50,
        "tail": p50 if pct == 50.0 else s[idx],
        "tail_pct": round(pct, 1),
    }


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# -- tracing -------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    self_ms: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    job_ms: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _NullSpan()


class _SpanCtx:
    def __init__(self, tracer: "Tracer", name: str, op: int | None):
        self.tracer = tracer
        self.name = name
        self.op = op

    def __enter__(self):
        t = self.tracer
        parent = t.stack[-1] if t.stack else None
        op = self.op if self.op is not None else (parent.op if parent else None)
        span = Span(len(t.spans), self.name, op, parent.id if parent else None, 0.0)
        t.spans.append(span)
        t.stack.append(span)
        t.sc.setJobGroup(t.group(span.id), self.name)
        span.start = time.perf_counter()
        return span

    def __exit__(self, *exc):
        t = self.tracer
        span = t.stack.pop()
        span.end = time.perf_counter()
        t.sc.setJobGroup(t.group(t.stack[-1].id) if t.stack else "lakebench-idle", "")
        return False


class Tracer:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent span and op id, kept in memory and written at the end.
    Each span runs its Spark jobs under its own job group, so jobs,
    stages and Spark busy time are attributed to the innermost span.
    A disabled tracer hands out one shared no-op context."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[Span] = []

    @staticmethod
    def group(span_id: int) -> str:
        return f"lakebench-s{span_id}"

    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            return _NULL
        return _SpanCtx(self, name, op)

    def finish(self) -> None:
        """Compute self times and read each span's jobs from Spark's
        status store (call after the timed phase)."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.ms
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            s.self_ms = s.ms - children.get(s.id, 0.0)
            s.jobs = sorted(tracker.getJobIdsForGroup(self.group(s.id)))
            intervals = []
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                s.stages += len(info.stageIds) if info is not None else 0
                jd = store.job(j)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append(
                        (jd.submissionTime().get().getTime(), jd.completionTime().get().getTime())
                    )
            s.job_ms = float(_union_length(intervals))

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None and s.name == "op"]

    def per_op(self, fn) -> list[float]:
        """fn(spans of one op) for each timed op."""
        by_op: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.op is not None:
                by_op.setdefault(s.op, []).append(s)
        return [fn(by_op[o.op]) for o in self.ops()]

    def durations(self, name: str) -> list[float]:
        """Durations in ms of every span called ``name``, in call order."""
        return [s.ms for s in self.spans if s.name == name]

    def op_ms(self, name: str) -> float:
        """Median over ops of the time spent in spans called ``name``."""
        return median(self.per_op(lambda ss: sum(s.ms for s in ss if s.name == name)))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _union_length(intervals: list[tuple[int, int]]) -> int:
    total = 0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
