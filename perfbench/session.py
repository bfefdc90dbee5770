"""The benchmark's own SparkSession, and the processes it starts.

Everything a run writes (Spark local dirs, temp files, the JVM's temp
dir, the event log) stays under the run's work directory. On stop the
benchmark waits for the JVM and every Python worker it spawned to end.
"""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

#: Session settings; the pipeline itself runs with RunConfig defaults.
SETTINGS = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": "2g",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: Path) -> None:
    """Point every temp dir the run's processes use into ``work``.
    Must run before pyspark starts the JVM."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def start(work: Path, event_dir: Path | None = None):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master(f"local[{cores()}]").appName("perfbench")
    for k, v in SETTINGS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.local.dir", str(work / "spark-local"))
    builder = builder.config("spark.sql.warehouse.dir", str(work / "warehouse"))
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", str(event_dir))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry.name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_field(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


class WorkerPeakRss:
    """Largest VmHWM among the Python processes under the JVM, sampled
    on a thread so that workers which exit early are seen too."""

    def __init__(self, interval_s: float = 0.5) -> None:
        proc = _jvm_proc()
        self.jvm_pid = proc.pid if proc is not None else None
        self.interval_s = interval_s
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        if self.jvm_pid is None:
            return
        for pid in descendants(self.jvm_pid):
            name = _status_field(pid, "Name") or ""
            hwm = _status_field(pid, "VmHWM")
            if name.startswith("python") and hwm:
                kb = int(hwm.split()[0])
                self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return max(self.peak_kb.values(), default=0) / 1024


def stop(spark, timeout_s: float = 60) -> None:
    """Stop the session, then wait for the JVM and its Python workers."""
    proc = _jvm_proc()
    spawned = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in spawned:
        while _alive(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    state = _status_field(pid, "State")
    return state is not None and not state.startswith(("Z", "X"))


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def job_cpu_s() -> float:
    """CPU seconds used so far by this process, the JVM and every
    process under the JVM (Python workers that have exited count
    through the process that reaped them)."""
    import resource

    me = resource.getrusage(resource.RUSAGE_SELF)
    total = me.ru_utime + me.ru_stime
    proc = _jvm_proc()
    if proc is None:
        return total
    ticks = 0
    for pid in [proc.pid, *descendants(proc.pid)]:
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        ticks += sum(int(x) for x in fields[11:15])
    return total + ticks / _CLK_TCK


def _spin(steps: int) -> None:
    x = 1
    for i in range(steps):
        x = (x * 31 + i) & 0xFFFF


class CoreSpeed:
    """Samples how fast a core of the host runs while the benchmark
    works. A child process spins a fixed amount of interpreter work
    every ``interval_s`` and prints M steps per CPU-second of its own.
    Timed in CPU time, not wall time, it reads the core's speed (clock,
    a busy hyper-thread sibling, other tenants' cache pressure) and not
    how often the benchmark's own processes let it run."""

    def __init__(self, interval_s: float = 0.05, steps: int = 20_000) -> None:
        self.cmd = [sys.executable, __file__, str(os.getpid()), str(interval_s), str(steps)]
        self.samples: list[tuple[float, float]] = []  # (monotonic time, M steps/CPU-s)
        self._proc: subprocess.Popen | None = None
        self._reader: threading.Thread | None = None

    def _read(self) -> None:
        for line in self._proc.stdout:
            t, rate = line.split()
            self.samples.append((float(t), float(rate)))

    def __enter__(self):
        self._proc = subprocess.Popen(self.cmd, stdout=subprocess.PIPE, text=True)
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()
        return self

    def __exit__(self, *exc) -> None:
        self._proc.terminate()
        self._proc.wait(timeout=30)
        self._reader.join(timeout=10)
        self._proc.stdout.close()

    def median(self, t0: float, t1: float) -> float:
        """Median core speed sampled between monotonic times t0 and t1
        (over every sample if none fell in that window)."""
        rates = [rate for t, rate in self.samples if t0 <= t <= t1]
        return statistics.median(rates or [rate for _, rate in self.samples])


def _core_speed_child(parent: int, interval_s: float, steps: int) -> None:
    while os.getppid() == parent:
        c0 = time.thread_time()
        _spin(steps)
        rate = steps / (time.thread_time() - c0) / 1e6
        print(time.monotonic(), rate, flush=True)
        time.sleep(interval_s)


def cpu_probe(ramp_s: float = 0.25, seconds: float = 0.5) -> float:
    """Single-core busy-loop rate in M iterations/s: a host-speed index
    recorded next to the metrics, never used to normalise them. Only the
    part after ``ramp_s`` counts: an idle virtual CPU runs slow for a
    moment after it wakes."""
    t_end = time.perf_counter() + ramp_s
    while time.perf_counter() < t_end:
        pass
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        n += 1
    return n / (time.perf_counter() - t0) / 1e6


if __name__ == "__main__":
    # the child process of CoreSpeed
    _core_speed_child(int(sys.argv[1]), float(sys.argv[2]), int(sys.argv[3]))
