"""Shared run machinery: the Spark session, op timing, failure
accounting, process-tree memory sampling and the host probe.

Nothing here knows about a particular workload; ``workloads.py`` drives
one ``Run`` per invocation and ``run.py`` prints what it collected.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


def cores() -> int:
    """local[N] width: 2, or 1 on a one-core host.  The other cores stay
    free for the JVM's compiler and GC threads and the Python side,
    which steadies the run-to-run numbers on a 4-core host."""
    return max(1, min(2, os.cpu_count() or 1))


def make_spark(work: str, traced: bool):
    """One local session whose every scratch path lives under ``work``
    (the checkout's own work directory).  The traced run adds Spark's
    uncompressed JSON event log; nothing else differs between modes."""
    from pyspark.sql import SparkSession

    n = cores()
    jtmp = os.path.join(work, "jvm-tmp")
    os.makedirs(jtmp, exist_ok=True)
    # every JVM this process starts (the launcher too) keeps its temp
    # files in the work directory and writes no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={jtmp}"
    # Spark's scratch space; the variable wins over spark.local.dir, so
    # set it here rather than inherit one pointing elsewhere
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed-size heap: no resizing, so memory and GC timing do not
        # depend on when the collector chose to grow it
        .config("spark.driver.extraJavaOptions", "-Xms1g")
    )
    if traced:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", ev)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.logStageExecutorMetrics", "true")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM has exited
    is re-parented here rather than to init, so ``end_processes`` still
    finds it and can wait for it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants(pid: int) -> list[int]:
    """Every process below ``pid`` that is running or not yet reaped,
    found by parent pid over all of /proc (a child the JVM forks from a
    non-main thread is missing from its main thread's ``children``
    list)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(spark, grace_s: float = 10.0) -> None:
    """Stop the Spark session, then the JVM it launched and every other
    process below this one (the JVM's Python workers), and wait until
    each has ended: SIGTERM after ``grace_s``, SIGKILL after twice that.
    Nothing a run started outlives it."""
    import signal

    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 — the JVM is ended below anyway
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        # PySpark's gateway server exits when its stdin closes
        try:
            proc.stdin.close()
        except OSError:
            pass
    t0 = time.monotonic()
    stage = 0
    while True:
        _reap()
        left = _descendants(os.getpid())
        waited = time.monotonic() - t0
        if not left or waited > 3 * grace_s:
            return
        due = 2 if waited > 2 * grace_s else 1 if waited > grace_s else 0
        if due > stage:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL if due == 2 else signal.SIGTERM)
                except ProcessLookupError:
                    pass
            stage = due
        time.sleep(0.05)


def median(values) -> float:
    return statistics.median(values)


class Run:
    """What one invocation measured: timed ops, setup samples, checks.

    ``op(kind)`` times one closed-loop operation; ``check`` counts an
    attempted operation and records it as failed when its output was
    wrong.  Any exception inside ``op`` fails that op and the loop goes
    on; the run as a whole then reports ``correct: false``."""

    def __init__(self, workload: str, seed: int, seconds: float, work: str,
                 tracer=None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.ops: list[tuple[str, float, float]] = []   # (kind, t0, t1)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_samples: list[float] = []
        self.session_s = 0.0
        self.warmup_s = 0.0     # a warm-up that runs once, after the setups
        self.report: dict = {}
        self.loop_wall_s = 0.0
        self.untimed_s = 0.0
        self.items = 0          # workload throughput unit (cells)
        self.items_time_s = 0.0

    @contextmanager
    def op(self, kind: str, check: bool = True):
        """Time one operation.  ``check=False`` ops are timed but count
        no attempt (their correctness is asserted by a later check)."""
        if self.tracer is not None:
            self.tracer.begin_request(kind)
        t0 = time.perf_counter()
        ok = False
        try:
            yield
            ok = True
        except Exception as ex:  # noqa: BLE001 — a failed op is a result
            self.problems.append(f"{kind}: {type(ex).__name__}: {ex}"[:400])
        finally:
            t1 = time.perf_counter()
            if self.tracer is not None:
                self.tracer.end_request()
            self.ops.append((kind, t0, t1))
            if not ok:
                self.attempted += 1
                self.failed += 1
            elif check:
                self.attempted += 1

    def check(self, ok, what: str) -> bool:
        """An untimed correctness check: counts as one attempt.  ``ok``
        may be a callable, evaluated under ``untimed``."""
        if callable(ok):
            with self.untimed():
                ok = ok()
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what[:400])
        return ok

    @contextmanager
    def untimed(self):
        """Correctness work inside the measured loop: its time is taken
        out of the loop wall that ops_per_s divides by, and the tracer
        records nothing while it runs."""
        traced = self.tracer is not None and self.tracer.active
        if traced:
            self.tracer.stop_window()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0
            if traced:
                self.tracer.start_window()

    def loop_start(self) -> float:
        """Mark the start of the measured loop; returns its perf time.
        The tracer records only between here and ``loop_end``."""
        if self.tracer is not None:
            self.tracer.start_window()
        return time.perf_counter()

    def loop_end(self, t0: float) -> None:
        """Close the measured loop: its wall time minus untimed checks."""
        self.loop_wall_s = time.perf_counter() - t0 - self.untimed_s
        if self.tracer is not None:
            self.tracer.stop_window()

    def count(self, name: str, value: float = 1.0) -> None:
        """A layer counter; recorded only in the traced run."""
        if self.tracer is not None:
            self.tracer.count(name, value)

    def latencies_ms(self, *kinds: str) -> list[float]:
        return [(t1 - t0) * 1000.0 for k, t0, t1 in self.ops
                if not kinds or k in kinds]

    @property
    def correct(self) -> bool:
        return self.failed == 0 and not self.problems


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _hwm_kb(pid: int) -> int:
    """The kernel's peak resident set (VmHWM) of one process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Peak resident set of this process and the JVM it launched: the
    sum of each process's own peak (VmHWM), polled every ``interval_s``
    so short-lived children count.  The tree is walked through each
    process's main-thread ``children`` list, which holds none of the
    JVM's Python workers (a JVM thread forks them); they are forks of
    one daemon, and adding their peaks would count the pages they share
    with it once per worker."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval_s)

    def sample(self, me: int | None = None) -> None:
        for p in _tree(me or os.getpid()):
            self._peaks[p] = max(self._peaks.get(p, 0), _hwm_kb(p))

    def start(self) -> "MemorySampler":
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return sum(self._peaks.values()) / 1024.0


def host_probe() -> float:
    """Seconds for a fixed pure-Python CPU loop: logged beside each run
    as host-weather context and never used to scale a number."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0
