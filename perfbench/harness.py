"""Session set-up, timing, tracing and Spark counters for the benchmark.

Tracing records a span around each call the benchmark makes into the
engine's public functions. A span has a name, start, end, parent and the
operation it belongs to. Each span also gets its own Spark job group, so the
jobs it ran can be read back from the status store after the operation
(outside its timing): job and task counts, shuffle bytes, and the time no
job was running (driver gap). Untraced runs record nothing and set no job
groups.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
CPUS = min(4, os.cpu_count() or 1)  # one client on local[N], N at most 4
DRIVER_MEM = "3g"


def prepare_process(work_dir: str) -> None:
    """Point every temporary file of this process and its JVM into
    ``work_dir``; must run before pyspark starts the JVM."""
    shutil.rmtree(work_dir, ignore_errors=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def cpu_steal() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None where absent."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def cpu_steal_share(a, b) -> float | None:
    """Share of CPU time stolen between two ``cpu_steal`` readings."""
    if a is None or b is None or b[1] == a[1]:
        return None
    return round((b[0] - a[0]) / (b[1] - a[1]), 4)


def start_session(work_dir: str, traced: bool):
    """Start the engine's tuned session; returns (spark, seconds). A traced
    run keeps every job in the status store, so spans resolved at the end
    of the run still find theirs."""
    from news_graph_rag_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cpus=CPUS,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file in /tmp: the run writes only inside its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            **({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"} if traced else {}),
        },
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM has
    ended. The JVM exits when its stdin closes; left to itself that
    happens only after this process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()  # later Python-side frees no longer call into the JVM
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def work_dir(pid: int) -> str:
    """Scratch directory of the run process ``pid``."""
    return os.path.join(BENCH_DIR, ".work", str(pid))


def run_supervised(cmd: list[str]) -> int:
    """Run ``cmd`` and return its exit code. This process becomes the child
    subreaper of everything below it, so nothing the run starts (the JVM,
    Python workers) can leave its tree; on every way out, each process
    still running below it is stopped and waited for, and the run's
    scratch directory is removed."""
    import ctypes

    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    child = subprocess.Popen(cmd)
    try:
        return child.wait()
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second one must not cut the clean-up short
        stop_descendants()
        shutil.rmtree(work_dir(child.pid), ignore_errors=True)


def descendants() -> list[int]:
    """Processes below this one that have not been reaped. Zombies count:
    a process whose main thread has ended shows as one while its other
    threads still run, and its children join this tree only after."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def _reap() -> None:
    """Collect every child of this process that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def stop_descendants() -> None:
    """SIGTERM every process below this one, SIGKILL what is left after
    20 s, and return once every one has ended and been reaped."""
    for sig, grace in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
        _reap()
        pids = descendants()
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            _reap()
            if not descendants():
                return
            time.sleep(0.05)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    k = max(1, -(-len(s) * q // 100))
    return s[int(k) - 1]


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    executor_run_ms: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)  # epoch s

    def add(self, other: "JobStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.shuffle_bytes += other.shuffle_bytes
        self.executor_run_ms += other.executor_run_ms
        self.intervals.extend(other.intervals)

    def busy_seconds(self, start: float, end: float) -> float:
        """Length of [start, end] covered by at least one job."""
        ivs = sorted((max(a, start), min(b, end)) for a, b in self.intervals)
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            busy += cur_b - cur_a
        return busy


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def jobs_of(self, group: str) -> JobStats:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = JobStats()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            out.jobs += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                out.intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            it = jd.stageIds().iterator()
            while it.hasNext():
                sd = store.lastStageAttempt(it.next())
                if sd.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.shuffle_bytes += sd.shuffleWriteBytes()
                out.executor_run_ms += sd.executorRunTime()
        return out

    def _storage_now(self) -> tuple[float, int]:
        mb, blocks = 0.0, 0
        for info in self.jsc.getRDDStorageInfo():
            mb += (info.memSize() + info.diskSize()) / 1e6
            blocks += info.numCachedPartitions()
        return mb, blocks

    def storage(self) -> tuple[float, int]:
        """(MB held by the block manager, cached partitions) once
        unreachable data is gone: both garbage collectors run first and the
        count is read until it stops changing, so only blocks something
        still pins are counted, the same on every run."""
        import gc

        gc.collect()
        self.sc._jvm.System.gc()
        last = self._storage_now()
        for _ in range(40):
            time.sleep(0.05)
            cur = self._storage_now()
            if cur == last:
                break
            last = cur
        return last


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    stats: JobStats | None = None


class Tracer:
    """Spans kept in memory, written when the run ends. Disabled tracers
    only time: ``span`` is then a bare context manager."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.enabled = counters is not None
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1].sid if self.stack else None
        sp = Span(len(self.spans), name, self.op, parent, time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self.stack.append(sp)
        self.counters.set_group(f"perfbench-span-{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            self.counters.set_group(
                f"perfbench-span-{self.stack[-1].sid}" if self.stack else None
            )

    def resolve(self, spans: list[Span]) -> None:
        """Read the jobs of ``spans`` back from the status store. Call
        after the operation's timing has stopped."""
        for sp in spans:
            if sp.stats is None:
                sp.stats = self.counters.jobs_of(f"perfbench-span-{sp.sid}")

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def op_stats(self, op: int) -> JobStats:
        spans = self.op_spans(op)
        self.resolve(spans)
        total = JobStats()
        for s in spans:
            total.add(s.stats)
        return total

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = sum(c.end - c.start for c in children.get(s.sid, []))
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str, extra: dict) -> None:
        self.resolve(self.spans)
        doc = {
            **extra,
            "self_time_s": {k: round(v, 6) for k, v in sorted(self.self_times().items())},
            "spans": [
                {
                    "id": s.sid,
                    "name": s.name,
                    "op": s.op,
                    "parent": s.parent,
                    "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    **({"attrs": s.attrs} if s.attrs else {}),
                    "jobs": s.stats.jobs,
                    "tasks": s.stats.tasks,
                    "shuffle_bytes": s.stats.shuffle_bytes,
                }
                for s in self.spans
            ],
        }
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
