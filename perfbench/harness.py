"""Process-level plumbing for the benchmark: Spark session lifecycle,
peak-RSS sampling of the process tree, host context and the span
recorder used by traced runs.

Nothing here imports pyspark at module load; ``configure_env`` must run
before the first pyspark import so the JVM picks up the settings.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import threading
import time


def configure_env(work: str, cpus: int, driver_memory: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into
    ``work`` and size Spark to the host."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": driver_memory,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        # the JVM's own temp files and perf-data mmap stay in the checkout
        "JAVA_TOOL_OPTIONS":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    time.tzset()


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_slots() -> int:
    """Spark task slots: one per two CPUs. Each task of the shipper
    feeds an Arrow-batched Python worker that runs beside it, and the
    JVM's JIT and GC threads need a core too; one slot per CPU would
    measure the scheduler rather than the program."""
    return max(1, host_cpus() // 2)


def host_canary_s(n: int = 300_000) -> float:
    """Spark-free single-core probe (chained md5): host speed recorded
    beside every run so host drift can be told apart from code changes."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def pctl(values: list[float], q: int) -> float:
    """Percentile ``q`` (1..99) of a non-empty sample, by linear
    interpolation between order statistics."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc on a thread. Each
    process counts its proportional set size, so pages that forked
    Python workers share with their parent are counted once."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # the command name may hold spaces; fields follow the last ')'
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        root = os.getpid()
        tree = {root}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


class Tracer:
    """Spans (name, start, end, parent) and counts recorded by the
    benchmark around its calls into each layer. Kept in memory; written
    out once, at the end of the run. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name,
                   "parent": self._stack[-1] if self._stack else None,
                   "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            with self._lock:
                self._stack.remove(sid)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = value

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def gc_millis(spark) -> int:
    """Cumulative JVM GC time over all collectors (GC MX beans)."""
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the active Spark session and the py4j gateway JVM, and wait
    until the JVM (and with it every Python worker it forked) is gone."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout_s)
    except Exception:  # noqa: BLE001 -- any failure to wait: kill, then reap
        proc.kill()
        proc.wait(timeout=timeout_s)
